import faulthandler
import signal
import sys
import threading
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from atlassian_sampling_processor_spark.session import get_spark  # noqa: E402

# Per-test wall-clock limit. The slowest test takes ~25 s on a 4-CPU VM;
# a test that runs past the limit fails (with every thread's stack on
# stderr) instead of holding the whole suite until its outer timeout.
TEST_TIME_LIMIT_S = 300
# after the limit, how long a still-stuck test gets per further interrupt
_RETRY_S = 30


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "differential: engine vs the independent reference simulator"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="asp-tests", cores=4, shuffle_partitions=4)
    yield s


def _cancel_spark_jobs():
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.cancelAllJobs()


@pytest.fixture(autouse=True)
def _test_time_limit(request):
    if threading.current_thread() is not threading.main_thread():
        yield
        return

    def on_alarm(signum, frame):
        faulthandler.dump_traceback(file=sys.stderr, all_threads=True)
        # cancel from another thread: this one may be inside a py4j call,
        # and the cancelled jobs release any pool thread waiting on them
        threading.Thread(target=_cancel_spark_jobs, daemon=True).start()
        signal.alarm(_RETRY_S)
        raise TimeoutError(f"{request.node.nodeid} ran past {TEST_TIME_LIMIT_S} s")

    previous = signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(TEST_TIME_LIMIT_S)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)


def hex_trace(trace_hex: str) -> tuple[int, int]:
    """32-hex trace id → signed (hi, lo) int64 pair."""
    trace_hex = trace_hex.replace(" ", "")
    assert len(trace_hex) == 32
    hi = int(trace_hex[:16], 16)
    lo = int(trace_hex[16:], 16)

    def s64(v: int) -> int:
        return v - (1 << 64) if v >= (1 << 63) else v

    return s64(hi), s64(lo)


def merged_row(**over):
    """One row of the merged per-trace aggregate with sane defaults."""
    base = dict(
        doc_id="0" * 32,
        trace_hi=0,
        trace_lo=0,
        batch_span_count=1,
        total_span_count=1,
        merged_min_start=0,
        merged_max_end=0,
        any_status_unset=False,
        any_status_ok=False,
        any_status_error=False,
        min_threshold=None,
        any_root=False,
        merged_priority=2,
        last_low_policy=None,
        first_source="svc",
        cached_priority=None,
        batch_idx=0,
    )
    base.update(over)
    return base


MERGED_SCHEMA = (
    "doc_id string, trace_hi long, trace_lo long, batch_span_count int,"
    " total_span_count int, merged_min_start long, merged_max_end long,"
    " any_status_unset boolean, any_status_ok boolean, any_status_error boolean,"
    " min_threshold long, any_root boolean, merged_priority int,"
    " last_low_policy string, first_source string, cached_priority int, batch_idx int"
)


def merged_df(spark, rows):
    return spark.createDataFrame([merged_row(**r) for r in rows], schema=MERGED_SCHEMA)
