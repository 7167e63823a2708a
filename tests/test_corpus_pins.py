"""The benchmark's corpora, regenerated from this checkout's datagen and
codec, must match the fingerprints pinned in ``perfbench/golden.json``.

A datagen or header-codec change that moves a corpus byte fails here,
in the tier-1 run, instead of as a ``FingerprintMismatch`` when the
benchmark starts. The corpora are generated fresh into ``tmp_path``:
``perfbench/.cache`` keys corpora by their arguments, not by code, so a
cached corpus can hide a changed encoder. ``perfbench/workloads.py`` is
imported by path and only read.
"""

import importlib.util
import sys

import pytest

from atlassian_sampling_processor_spark import datagen

from .conftest import REPO


def _workloads():
    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", REPO / "perfbench" / "workloads.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve their module
    spec.loader.exec_module(mod)
    return mod


WL = _workloads()


@pytest.mark.parametrize(
    "workload,variant", [("trickle", v) for v in range(WL.VARIANTS)] + [("bulk", 0)]
)
def test_corpus_matches_pin(tmp_path, workload, variant):
    args = WL.WORKLOADS[workload].corpus_args(variant)
    n_traces = args["traces_per_batch"] * args["batches"]
    path = datagen.generate_sequences_parquet(
        str(tmp_path / "seq.parquet"),
        n_traces=n_traces,
        seed=args["seed"],
        n_batches=args["batches"],
        row_group_traces=n_traces,
        **args["datagen"],
    )
    rows, digest, per_batch = WL.fingerprint(path)
    pin = WL.load_golden()[workload][str(variant)]["corpus"]
    assert (rows, digest, per_batch) == (pin["rows"], pin["sha256"], pin["rows_per_batch"])
