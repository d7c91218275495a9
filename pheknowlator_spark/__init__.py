"""pheknowlator_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the build semantics of callahantiff/PheKnowLator (pkt_kg 3.1.2)
as Spark DataFrame pipelines: config-driven edge-list derivation
(``operators.edge_list``), instance-/subclass-based triple construction
(``operators.constructors``), OWL-semantics filtering and OWL-NETS decoding
(``operators.owl_filters``, ``operators.owlnets``), iterative graph
algorithms (``operators.graph_algos``), webtext mention detection + entity
linking (``webtext``), and stage-checkpointed materialization with lineage
(``plans``).

Everything hot is declarative DataFrame/SQL so Catalyst handles pushdown,
pruning, broadcast selection and AQE skew handling; Python appears only in
Arrow-batched pandas UDFs (mention detection, OWL class-expression decode).
"""

__version__ = "0.1.0"

from pheknowlator_spark.session import get_spark  # noqa: F401


def _register_pickle_by_value() -> None:
    """Ship the code that runs in Python workers inside pickled closures.

    Python workers only import modules referenced BY NAME in pickles; when
    the driver's SparkSession was created without this package on the
    executors' PYTHONPATH (e.g. an external harness importing
    __spark_entry__ from an arbitrary cwd), mapInPandas / applyInArrow /
    UDF closures would fail to unpickle. Registering the modules whose
    functions run in workers by value makes those closures self-contained;
    every other module stays pickled by reference, since no worker needs
    it. On a real cluster --py-files remains the right mechanism; this is a
    local-mode safety net.
    """
    from pyspark.cloudpickle import register_pickle_by_value

    from pheknowlator_spark.functions import text
    from pheknowlator_spark.operators import multimodal, owlnets
    from pheknowlator_spark.sources import pages
    from pheknowlator_spark.webtext import extract, mentions

    for module in (text, multimodal, owlnets, pages, extract, mentions):
        register_pickle_by_value(module)


_register_pickle_by_value()
