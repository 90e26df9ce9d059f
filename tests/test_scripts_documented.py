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


def test_no_script_puts_a_literal_path_on_sys_path():
    """Scripts find the package from their own location: a literal
    absolute path on ``sys.path`` makes a run from any other checkout
    import, and check, that fixed checkout's code instead."""
    import ast

    literal = []
    for p in sorted([*REPO.glob("*.py"), *(REPO / "scripts").glob("*.py")]):
        for n in ast.walk(ast.parse(p.read_text())):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("insert", "append")
                and ast.unparse(n.func.value) == "sys.path"
                and any(
                    isinstance(a, ast.Constant)
                    and isinstance(a.value, str)
                    and a.value.startswith("/")
                    for a in n.args
                )
            ):
                literal.append(f"{p.name}:{n.lineno}")
    assert not literal, f"literal absolute paths on sys.path: {literal}"
