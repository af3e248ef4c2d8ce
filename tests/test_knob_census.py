"""Lock the SPARK_GRAFT_* knob census: every environment knob the program
mentions (code or comment) must have a row in SCALE.md's "Knob census"
table, and every row must still name a knob the program reads. A new
knob needs a measured regime written down before it lands."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _program_knobs() -> set[str]:
    files = [
        *(ROOT / "mysteryann_spark").rglob("*.py"),
        *(ROOT / "tools").glob("*.py"),
        ROOT / "bench.py",
    ]
    return {k for f in files for k in KNOB.findall(f.read_text())}


def _census_knobs() -> set[str]:
    text = (ROOT / "SCALE.md").read_text()
    assert "\n## Knob census" in text, "SCALE.md has no Knob census section"
    section = text.split("\n## Knob census", 1)[1].split("\n## ", 1)[0]
    # the FIRST table of the section lists the surviving knobs; the
    # removed-knob table after it does not count
    rows = []
    for line in section.splitlines():
        if line.startswith("|"):
            rows.append(line)
        elif rows:
            break
    return {k for row in rows for k in KNOB.findall(row.split("|")[1])}


def test_knob_census_matches_program():
    program, census = _program_knobs(), _census_knobs()
    assert program == census, (
        f"knobs without a census row: {sorted(program - census)}; "
        f"census rows for knobs the program no longer reads: "
        f"{sorted(census - program)}"
    )
