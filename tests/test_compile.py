"""Every package module and the driver entry compile with warnings as
errors — an invalid escape sequence in a non-raw string is a
SyntaxWarning today and a SyntaxError under ``python -W error``.

Every public package function is also called from non-test code, unless
``TEST_REACHED`` lists it with the reason it is kept."""

import ast
import pathlib
import warnings

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = sorted((ROOT / "pheknowlator_spark").rglob("*.py"))
SOURCES = [ROOT / "__spark_entry__.py"] + PACKAGE
NON_TEST = SOURCES + sorted(ROOT.glob("bench*.py")) + [
    p
    for d in ("scripts", "kgbench")
    for p in sorted((ROOT / d).glob("*.py"))
    if not p.name.startswith("test_")
]

# Public package functions that only tests call, one line each with the
# reason to keep it. Calls made from inside a listed function do not count
# as non-test use of the functions they call.
TEST_REACHED = {
    "brute_force_topk": "exact top-k the ANN tests check lsh_topk/ivf_topk against",
    "decode_pkt_namespace": "J9 pkt-namespace decode, a reference build step",
    "dedup_near": "keeps one member per near-dup cluster; near_dup_clusters' consumer",
    "frame_sample_plan": "metadata-only video frame plan; multimodal surface",
    "incremental_build": "resumable streaming KG rebuild through StageStore commits",
    "incremental_result": "reads back what incremental_build committed",
    "metadata_gate": "P10 node-metadata edge gate, a reference build step",
    "read_warc": "WARC page reader; crawl input format",
    "read_wet": "WET text reader; crawl input format",
    "stream_events_from_parquet": "file-source stream behind incremental_build",
    "streaming_capture_dedup": "streaming twin of latest_capture",
    "streaming_dedup": "stateful streaming twin of dedup_exact",
    "verify_extraction": "checks the stored text against a re-extraction",
    "windowed_event_counts": "watermarked window counts; streaming surface",
    "with_extracted_text": "html to text column; the extraction the pages carry",
    "write_bucketed_triples": "bucketed triple table for shuffle-free self-joins",
    "write_warc": "writes WARC inputs for read_warc",
    "write_wet": "writes WET inputs for read_wet",
}


@pytest.mark.parametrize(
    "path", SOURCES, ids=lambda p: str(p.relative_to(ROOT))
)
def test_compiles_with_warnings_as_errors(path):
    source = path.read_text(encoding="utf-8")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(source, str(path), "exec")


def _public_functions() -> set[str]:
    return {
        node.name
        for path in PACKAGE
        for node in ast.parse(path.read_text(encoding="utf-8")).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
    }


def _names_used_outside_tests() -> set[str]:
    """Names, attributes and imported names in non-test code; comments and
    strings do not count, nor a function's use of its own name."""
    used: set[str] = set()
    for path in NON_TEST:
        for top in ast.parse(path.read_text(encoding="utf-8")).body:
            own = getattr(top, "name", None)
            if path in PACKAGE and own in TEST_REACHED:
                continue
            names = set()
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rsplit(".", 1)[-1])
            used |= names - {own}
    return used


def test_public_functions_have_non_test_callers():
    public = _public_functions()
    used = _names_used_outside_tests()
    assert sorted(public - used - set(TEST_REACHED)) == []
    # an entry whose function gained a caller, or is gone, is stale
    assert sorted(set(TEST_REACHED) - (public - used)) == []
