"""atlassian_sampling_processor_spark — a PySpark-native tail-based trace
sampling pipeline, built from scratch with the query semantics of
atlassian-labs/atlassian-sampling-processor (the reference Go processor).

Architecture (SURVEY.md §7): a driver-orchestrated micro-batch DAG
(parse → enrich → decide → route → aggregate) over a tokenized-sequence
table ``(doc_id, tokens, n_tok, source)``, carrying two checkpointed
state tables (`pending_state`, `decision_state`) between batches.

All decision logic is expressed as Catalyst column expressions; the only
Python on the hot path is two vectorized (Arrow-batched) pandas stages:
the token parser and the FNV-1a64 hash used by the probabilistic policy.
"""

__version__ = "0.1.0"


def _register_udf_modules_by_value() -> None:
    """Make every worker-executed function self-contained.

    Spark pickles module-level functions BY REFERENCE (module + qualname),
    so Python workers must be able to import this package — which fails
    whenever the driving process runs from a different cwd without the
    repo on PYTHONPATH (exactly how external harnesses invoke
    ``__spark_entry__``; round-1's driver correctness gate died this way).
    Registering the UDF-bearing modules for cloudpickle pickle-BY-VALUE
    ships the function bodies (and the module globals they touch) inside
    the task payload, so workers need no import and no PYTHONPATH setup.
    """
    from pyspark import cloudpickle

    from . import codec, hashing, parse
    from .functions import dataops, dataops2, multimodal

    for mod in (codec, hashing, parse, dataops, dataops2, multimodal):
        cloudpickle.register_pickle_by_value(mod)


_register_udf_modules_by_value()
