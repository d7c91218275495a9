"""Every package module and the driver entry compile with warnings as
errors — an invalid escape sequence in a non-raw string is a
SyntaxWarning today and a SyntaxError under ``python -W error``."""

import pathlib
import warnings

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
SOURCES = [ROOT / "__spark_entry__.py"] + sorted(
    (ROOT / "pheknowlator_spark").rglob("*.py")
)


@pytest.mark.parametrize(
    "path", SOURCES, ids=lambda p: str(p.relative_to(ROOT))
)
def test_compiles_with_warnings_as_errors(path):
    source = path.read_text(encoding="utf-8")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(source, str(path), "exec")
