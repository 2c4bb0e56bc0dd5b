from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from f1_data_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    # Shutdown hygiene (round-6 verdict #7): without an explicit stop,
    # streaming/foreachBatch machinery leaves non-daemon JVM threads
    # alive and the process wedges at ~200% CPU after the test summary —
    # CI harnesses then hang until killed. Stop active streams, then the
    # session; the sessionfinish watchdog below is the backstop.
    try:
        for q in s.streams.active:
            try:
                q.stop()
            except Exception:
                pass
        s.stop()
    except Exception:
        pass


def pytest_sessionfinish(session, exitstatus):
    """Last-resort watchdog: if anything non-daemon (JVM callback
    server, a leaked stream thread) keeps the interpreter alive >20 s
    after the summary, force the exit with pytest's own status so CI
    sees the real result instead of a wedged process."""
    import os
    import threading
    import time

    def _watchdog():
        time.sleep(20)
        os._exit(exitstatus)

    threading.Thread(target=_watchdog, daemon=True).start()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
