"""The README's "Cluster knobs" table must list exactly the FAST_ER_*
environment variables the package reads — no undocumented switch, no
documented switch that no longer exists."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# a read is a quoted name, as in os.environ.get("FAST_ER_X", ...)
READ = re.compile(r"""["'](FAST_ER_[A-Z0-9_]+)["']""")
NAME = re.compile(r"FAST_ER_[A-Z0-9_]+")


def _read_in_package() -> set[str]:
    names = set()
    for path in (ROOT / "fast_er_spark").rglob("*.py"):
        names |= set(READ.findall(path.read_text(encoding="utf-8")))
    return names


def _knob_table() -> set[str]:
    text = (ROOT / "README.md").read_text(encoding="utf-8")
    section = text.split("## Cluster knobs", 1)[1].split("\n## ", 1)[0]
    names = set()
    for line in section.splitlines():
        if line.startswith("|"):
            # first cell only: the knob column
            names |= set(NAME.findall(line.split("|")[1]))
    return names


def test_readme_knob_table_matches_package_reads():
    read = _read_in_package()
    assert read, "no FAST_ER_* reads found: the scan pattern is broken"
    table = _knob_table()
    assert read == table, {
        "read but not in the README table": sorted(read - table),
        "in the README table but never read": sorted(table - read),
    }
