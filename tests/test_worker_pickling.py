"""The package's Python-worker code runs where workers cannot import the
package: a driver outside the repository, with no repository path on
PYTHONPATH, builds a plain session and runs every operator whose
functions execute in Python workers. Those closures unpickle because
``pheknowlator_spark/__init__`` registers their modules by value;
``assign_integer_ids``' lambda, from a module that is not registered,
pickles by value as every lambda does."""

import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]

DRIVER = r'''
import json
import sys

sys.path.insert(0, sys.argv[1])

from pyspark.sql import SparkSession

from pheknowlator_spark.functions.rdf import (
    OWL_ANNOTATED_SOURCE, OWL_ANNOTATED_TARGET, OWL_AXIOM, RDF_TYPE,
)
from pheknowlator_spark.operators.graph_algos import assign_integer_ids
from pheknowlator_spark.operators.multimodal import extract_features, synthetic_media
from pheknowlator_spark.operators.owlnets import decode_forests
from pheknowlator_spark.sources.pages import generate_pages
from pheknowlator_spark.webtext.extract import with_extracted_text
from pheknowlator_spark.webtext.mentions import detect_mentions, extract_and_detect

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.sql.shuffle.partitions", "1")
    .getOrCreate()
)
pages = generate_pages(spark, 4, partitions=1)
rows = pages.collect()
word = rows[0].text.split()[0]
dictionary = spark.createDataFrame([(word, "X:1")], "surface string, curie string")
forests = spark.createDataFrame(
    [("_:ax", "_:ax", RDF_TYPE, OWL_AXIOM, False),
     ("_:ax", "_:ax", OWL_ANNOTATED_SOURCE, "http://x/a", False),
     ("_:ax", "_:ax", OWL_ANNOTATED_TARGET, "http://x/b", False)],
    "root string, s string, p string, o string, o_is_literal boolean",
)
decoded, _status = decode_forests(forests)
redone = with_extracted_text(pages.drop("text")).collect()
print(json.dumps({
    "pages": len(rows),
    "detect_mentions": detect_mentions(pages, dictionary).count(),
    "extract_and_detect": extract_and_detect(
        pages, dictionary, min_quality=0.0, resolve_spans=True
    ).count(),
    "decode_forests": [list(r) for r in decoded.select("s", "o").collect()],
    "extract_features": extract_features(synthetic_media(spark, 3)).count(),
    "with_extracted_text": sorted(r.text for r in redone) == sorted(r.text for r in rows),
    "assign_integer_ids": assign_integer_ids(forests.select("s", "p", "o"))[0].count(),
}))
spark.stop()
'''


def test_worker_code_runs_without_the_package_on_workers(tmp_path):
    (tmp_path / "driver.py").write_text(DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [sys.executable, "driver.py", str(ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["pages"] == 4
    assert got["detect_mentions"] > 0
    assert got["extract_and_detect"] > 0
    assert got["decode_forests"] == [["http://x/a", "http://x/b"]]
    assert got["extract_features"] == 3
    assert got["with_extracted_text"] is True
    assert got["assign_integer_ids"] == 7
