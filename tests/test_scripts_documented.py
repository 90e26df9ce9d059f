"""Every maintained script is discoverable from the README."""

from __future__ import annotations

from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_every_script_is_named_in_readme():
    readme = (REPO / "README.md").read_text()
    undocumented = sorted(
        p.name for p in (REPO / "scripts").glob("*.py")
        if f"scripts/{p.name}" not in readme
    )
    assert not undocumented, f"scripts not named in README.md: {undocumented}"
