"""atlassian_sampling_processor_spark — a PySpark-native tail-based trace
sampling pipeline, built from scratch with the query semantics of
atlassian-labs/atlassian-sampling-processor (the reference Go processor).

Architecture (SURVEY.md §7): a driver-orchestrated micro-batch DAG
(parse → enrich → decide → route → aggregate) over a tokenized-sequence
table ``(doc_id, tokens, n_tok, source)``, carrying checkpointed state
between batches (`pending_state`, `pending_spans`, `decision_state` and
a per-batch `metrics` log; state.py).

All decision logic is expressed as Catalyst column expressions, and so
are the token header decode (parse.py, over the slot table in codec.py)
and the FNV-1a64 hash of the probabilistic policy: a pipeline batch
starts no Python worker. Pandas UDFs remain only in OTTL's
``FNV``/``Murmur3Hash`` converters (run when a policy uses them) and in
one training-data operator (functions/dataops2.py).
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
