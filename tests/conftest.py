import os
import signal
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "timeout(seconds): fail the test once its call phase runs longer than"
        " `seconds` (SIGALRM; deferred to pytest-timeout when installed)",
    )


class _Overrun(KeyboardInterrupt):
    """Raised in the main thread when a test outlives its timeout mark.  A
    KeyboardInterrupt because that is the one exception on which py4j shuts
    down the connection a blocked Spark call is reading; any other leaves
    the next py4j call waiting for the late answer.  The hook below turns it
    into a test failure, so it never reaches pytest as an interrupt."""


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    """Enforce @pytest.mark.timeout without the pytest-timeout plugin: a
    timer thread sends SIGALRM to the main thread itself (a process-wide
    alarm may land on another thread and never interrupt the blocked
    call), and the handler raises _Overrun there."""
    mark = item.get_closest_marker("timeout")
    if mark is None or item.config.pluginmanager.hasplugin("timeout"):
        return (yield)
    seconds = float(mark.args[0])
    armed = [True]

    def expire(signum, frame):
        if armed[0]:
            raise _Overrun

    previous = signal.signal(signal.SIGALRM, expire)
    timer = threading.Timer(
        seconds, signal.pthread_kill, (threading.get_ident(), signal.SIGALRM)
    )
    timer.daemon = True
    timer.start()
    try:
        return (yield)
    except _Overrun:
        pytest.fail(f"test exceeded its {seconds:g} s timeout", pytrace=False)
    finally:
        armed[0] = False
        timer.cancel()
        timer.join()
        signal.signal(signal.SIGALRM, previous)


@pytest.fixture(scope="session")
def spark():
    from list_extractor_spark.engine.session import get_spark

    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
