"""Reference-parity page parser — the single shared code path.

Semantics reproduced (citations into /root/reference):

- Chunk split on the byte delimiter ``b"\\n\\n---- "`` with the splitter's
  exact boundary rule — a chunk spans [delimiter_index, next_delimiter_index),
  i.e. every chunk after the first *includes* its leading delimiter, which the
  subsequent trim reduces to a uniform ``"---- ..."`` prefix
  (log-server-db/.../utils/InputStreamSplitter.java:31-52, OldLogReader.scala:47-50).
- Charset sniff: decode UTF-8 with replacement; if any U+FFFD appears,
  re-decode the bytes as cp1251 (db/SourceUtils.scala:8-13).
- Java-style trim: strip only chars <= U+0020 from both ends
  (OldLogReader.scala:50; java.lang.String#trim).
- Validity: a chunk must contain ``'\\n'`` after trim (OldLogReader.scala:51);
  the reference silently skips these — per our north_rule they are routed to
  the error sink instead (SURVEY.md F4).
- Record id: first line token ``" id:<token>"``; the token is coerced per
  ``RecordId.parse`` (RecordId.scala:61-62): try Int first (so ``"0042"`` and
  ``"42"`` are the SAME id, and values outside int32 fall back), else keep it
  as a string id (the String variant, RecordId.scala:67-75). No token ->
  empty id (OldLogReader.scala:29-30, 65 — the legacy regex was digits-only;
  we generalize to the full RecordId sum type the new-format reader carries
  on the wire, NewLogReader.scala:122-147).
- Stream/table tag: the reference derives table name from the *filename*
  regex ``^(.*)\\.sql\\.`` (OldLogReader.scala:39, 64); our pages carry the
  tag in-band as ``" table:<name>"`` on the header line. Missing tag is the
  NewLogReader empty-tableName error class (NewLogReader.scala:78-86) ->
  error route.
- Table normalization: strip a ``"ros."`` prefix (SourceLogRecord.scala:14-18).
- Timestamp: fixed slice [5, 24) parsed as ``yyyy-MM-dd HH:mm:ss``
  (OldLogReader.scala:33, 66). The reference resolves via the *system* zone
  (Dates.scala:48); we pin UTC for determinism.
- Payload bytes: UTF-8 encoding of the trimmed string (OldLogReader.scala:24);
  payloads over 1 MiB are the reference's corruption guard (Storage.scala:19)
  -> error route.

This module is dependency-light pure Python so the parse stage's non-ASCII
residue path (functions/parse_vec.py) and the tests share it verbatim.
"""

from __future__ import annotations

import calendar
import re
from dataclasses import dataclass
from datetime import datetime

DELIMITER = b"\n\n---- "
MAX_PAYLOAD_BYTES = 1 << 20  # Storage.scala:19
_JAVA_WS = "".join(chr(c) for c in range(0x21))  # chars <= U+0020
# Java-exact \S: the reference tokenizes with java.util.regex, whose \s is
# [ \t\n\x0B\f\r] ONLY — Python's \s additionally treats \x1c-\x1f (and
# unicode spaces) as whitespace, which would split tokens the reference
# keeps whole. Spelled out so the codegen fast path (Java regex) and this
# Python twin agree byte-for-byte.
_JAVA_NON_WS = r"[^ \t\n\x0B\f\r]"
_ID_RE = re.compile(rf" id:({_JAVA_NON_WS}+)")
_INT_RE = re.compile(r"[+-]?\d+")  # Scala toInt accepts an optional +/- sign
_TABLE_RE = re.compile(rf" table:({_JAVA_NON_WS}+)")

OK = "ok"
ERR_NO_NEWLINE = "err_no_newline"
ERR_BAD_DATE = "err_bad_date"
ERR_MISSING_TABLE = "err_missing_table"
ERR_OVERSIZE = "err_oversize"


@dataclass
class ParsedRecord:
    seq: int
    status: str  # OK or ERR_*
    table: str | None  # normalized stream name
    record_id: str | None  # canonical id (int rendering or string token), None = empty id
    ts_millis: int | None
    text: str  # trimmed decoded chunk (the byte-identity invariant target)


def split_chunks(data: bytes) -> list[bytes]:
    """Splitter-parity chunking: chunk k spans [delim_idx_k, delim_idx_k+1).

    Every chunk after the first keeps its leading delimiter (the search for
    the next delimiter resumes at ``idx + len(DELIMITER)``, exactly like the
    reference splitter's ``nextPos``), which ``java_trim`` later reduces to a
    uniform ``"---- "`` record prefix.
    """
    chunks: list[bytes] = []
    pos = 0
    search = 0
    while True:
        idx = data.find(DELIMITER, search)
        if idx == -1:
            chunks.append(data[pos:])
            return chunks
        chunks.append(data[pos:idx])
        pos = idx
        search = idx + len(DELIMITER)


def detect_decode(data: bytes) -> str:
    """UTF-8 first; any replacement char -> cp1251 (SourceUtils.scala:8-13)."""
    s = data.decode("utf-8", errors="replace")
    if "�" in s:
        return data.decode("cp1251", errors="replace")
    return s


def java_trim(s: str) -> str:
    return s.strip(_JAVA_WS)


def normalize_table(table: str) -> str:
    return table[4:] if table.startswith("ros.") else table


def canonical_record_id(token: str) -> str:
    """``RecordId.parse`` coercion (RecordId.scala:61-62): Int first — Scala's
    ``toInt`` accepts an optional sign and canonicalizes leading zeros, but
    overflows past int32 throw and fall through to the String variant."""
    if _INT_RE.fullmatch(token):
        v = int(token)
        if -(1 << 31) <= v < (1 << 31):
            return str(v)
    return token


_DIGITS = set("0123456789")


def parse_ts_millis(header_slice: str) -> int | None:
    """Strict ``yyyy-MM-dd HH:mm:ss`` over a 19-char slice, UTC epoch ms.

    Hand-rolled rather than strptime: (a) ~5x faster (strptime drags locale
    machinery into the hot path — it was half of parse_page's profile), and
    (b) stricter, matching Java's DateTimeFormatter position-exact behavior
    (ASCII digits only, exact separators) where strptime is lenient.
    """
    s = header_slice
    if (
        len(s) != 19
        or s[4] != "-" or s[7] != "-" or s[10] != " " or s[13] != ":" or s[16] != ":"
    ):
        return None
    for i in (0, 1, 2, 3, 5, 6, 8, 9, 11, 12, 14, 15, 17, 18):
        if s[i] not in _DIGITS:
            return None
    y = int(s[0:4]); mo = int(s[5:7]); d = int(s[8:10])
    h = int(s[11:13]); mi = int(s[14:16]); se = int(s[17:19])
    if not (1 <= mo <= 12 and 1 <= d <= 31 and h <= 23 and mi <= 59 and se <= 59):
        return None
    try:
        dt = datetime(y, mo, d, h, mi, se)
    except ValueError:  # day out of range for month
        return None
    return calendar.timegm(dt.timetuple()) * 1000


def parse_page(html: bytes | None) -> list[ParsedRecord]:
    """Parse one page's bytes into records (usually 1..3 per page)."""
    if not html:
        return [ParsedRecord(0, ERR_NO_NEWLINE, None, None, None, "")]
    out: list[ParsedRecord] = []
    for seq, chunk in enumerate(split_chunks(html)):
        log = java_trim(detect_decode(chunk))
        nl = log.find("\n")
        if nl == -1:
            out.append(ParsedRecord(seq, ERR_NO_NEWLINE, None, None, None, log))
            continue
        first_line = log[:nl]
        m = _ID_RE.search(first_line)
        record_id = canonical_record_id(m.group(1)) if m else None
        tm = _TABLE_RE.search(first_line)
        ts = parse_ts_millis(log[5:24])
        if ts is None:
            out.append(ParsedRecord(seq, ERR_BAD_DATE, None, record_id, None, log))
            continue
        if tm is None or not normalize_table(tm.group(1)):
            out.append(ParsedRecord(seq, ERR_MISSING_TABLE, None, record_id, ts, log))
            continue
        table = normalize_table(tm.group(1))
        if len(log.encode("utf-8")) > MAX_PAYLOAD_BYTES:
            out.append(ParsedRecord(seq, ERR_OVERSIZE, table, record_id, ts, log))
            continue
        out.append(ParsedRecord(seq, OK, table, record_id, ts, log))
    return out
