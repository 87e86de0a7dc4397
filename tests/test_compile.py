"""Source hygiene: every module byte-compiles with compile-time
warnings raised as errors."""

from __future__ import annotations

import pathlib
import warnings

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_sources_compile_with_warnings_as_errors():
    """An invalid escape such as ``"\\|"`` in a non-raw string is only a
    warning by default, but a SyntaxError under ``-W error`` and in
    later Pythons. Python 3.12+ reports it as SyntaxWarning, 3.11 as
    DeprecationWarning, so both are raised as errors here."""
    files = sorted(
        [
            *(ROOT / "ontology_graph_etl_spark").rglob("*.py"),
            *(ROOT / "tests").rglob("*.py"),
        ]
    )
    assert len(files) > 20
    bad = []
    for f in files:
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(f.read_text(encoding="utf-8"), str(f), "exec")
            except SyntaxError as e:
                bad.append(f"{f.relative_to(ROOT)}:{e.lineno}: {e.msg}")
    assert not bad, bad
