"""Every environment variable the package reads, and every CLI flag, is
documented in the README's Configuration section, and nothing else is
listed there."""

import argparse
import pathlib
import re

import pytest

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


def _cli_parser(monkeypatch):
    """The parser ``cli.main`` builds, caught at its ``parse_args`` call."""
    from log_server_spark import cli

    class Built(Exception):
        pass

    def grab(self, *args, **kwargs):
        raise Built(self)

    monkeypatch.setattr(argparse.ArgumentParser, "parse_args", grab)
    with pytest.raises(Built) as got:
        cli.main([])
    return got.value.args[0]


def _flags(parser, prefix: str = "") -> set[str]:
    out: set[str] = set()
    for action in parser._actions:
        if isinstance(action, argparse._SubParsersAction):
            for name, sub in action.choices.items():
                out |= _flags(sub, f"{name} ")
        elif action.option_strings and not isinstance(action, argparse._HelpAction):
            out.add(prefix + max(action.option_strings, key=len))
    return out


def test_cli_flags_match_readme(monkeypatch):
    flags = _flags(_cli_parser(monkeypatch))
    assert "update --warehouse" in flags, "parser walk found no subcommand flags"
    readme = (ROOT / "README.md").read_text()
    section = readme.split("## Configuration", 1)[1].split("\n## ", 1)[0]
    assert flags == set(re.findall(r"^- `((?:[a-z]+ )?--[a-z-]+)`", section, re.M))
