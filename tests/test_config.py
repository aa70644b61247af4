"""Every environment variable the package reads is documented in the
README's Configuration section, and nothing else is listed there."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENV_READ = re.compile(r"""os\.(?:environ(?:\.get)?|getenv)\s*[(\[]\s*["'](LSS_[A-Z_]+)["']""")


def _read_in_package() -> set[str]:
    names: set[str] = set()
    for path in (ROOT / "log_server_spark").rglob("*.py"):
        names.update(ENV_READ.findall(path.read_text()))
    return names


def _documented() -> set[str]:
    readme = (ROOT / "README.md").read_text()
    section = readme.split("## Configuration", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^- `(LSS_[A-Z_]+)`", section, re.M))


def test_env_knobs_match_readme():
    read = _read_in_package()
    assert read, "scanner found no env reads: the pattern is broken"
    assert read == _documented()
