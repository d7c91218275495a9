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
    """Ship this package's code inside pickled closures/broadcasts.

    Python workers only import modules referenced BY NAME in pickles; when
    the driver's SparkSession was created without this package on the
    executors' PYTHONPATH (e.g. an external harness importing
    __spark_entry__ from an arbitrary cwd), broadcast AhoCorasick objects
    and mapInPandas closures would fail to unpickle. Registering the
    worker-facing modules by value makes them self-contained. On a real
    cluster --py-files remains the right mechanism; this is a local-mode
    safety net with negligible per-task cost.
    """
    from pyspark.cloudpickle import register_pickle_by_value

    import pheknowlator_spark.functions.rdf
    import pheknowlator_spark.functions.text
    import pheknowlator_spark.operators.multimodal
    import pheknowlator_spark.operators.owlnets
    import pheknowlator_spark.sources.pages
    import pheknowlator_spark.webtext.extract
    import pheknowlator_spark.webtext.mentions
    import sys

    for name, mod in list(sys.modules.items()):
        if name.startswith("pheknowlator_spark") and mod is not None:
            try:
                register_pickle_by_value(mod)
            except Exception:  # pragma: no cover - best effort
                pass


_register_pickle_by_value()
