from __future__ import annotations

import pytest
from py4j.protocol import Py4JNetworkError

from pero_ocr_api_spark import corpus
from pero_ocr_api_spark.session import get_spark
from pero_ocr_api_spark.sources.tables import DOCUMENTS_SCHEMA, MEDIA_SCHEMA

N_DOCS = 60
SEED = 42


# The session JVM is shared: once it is gone (OOM-killed, say), every
# later Spark test would fail with its own Py4J ConnectionRefused
# traceback. Instead each of them errors, before its fixtures are set
# up, with one message naming the last test that ran while the JVM was
# still alive.
_JVM = pytest.StashKey[dict]()


def pytest_configure(config):
    config.stash[_JVM] = {"session": None, "last_alive": None, "dead_after": None}


@pytest.fixture(scope="session")
def spark(request):
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    request.config.stash[_JVM]["session"] = s
    yield s


def _jvm_alive(s) -> bool:
    try:
        s.sparkContext._jsc.sc().isStopped()
    except (Py4JNetworkError, ConnectionError):
        return False
    return True


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    jvm = item.config.stash[_JVM]
    if jvm["session"] is None or "spark" not in item.fixturenames:
        return
    if jvm["dead_after"] is None and not _jvm_alive(jvm["session"]):
        jvm["dead_after"] = jvm["last_alive"] or "the session's start"
    if jvm["dead_after"] is not None:
        pytest.fail(
            "the test Spark session's JVM is gone (Py4J connection refused); "
            f"it died during or after {jvm['dead_after']}",
            pytrace=False,
        )


def pytest_runtest_teardown(item):
    jvm = item.config.stash[_JVM]
    if jvm["dead_after"] is None and "spark" in item.fixturenames:
        jvm["last_alive"] = item.nodeid


@pytest.fixture(scope="session")
def corpus_pandas():
    return corpus.generate_pandas(N_DOCS, seed=SEED)


@pytest.fixture(scope="session")
def docs_df(spark, corpus_pandas):
    docs_pdf, _ = corpus_pandas
    return spark.createDataFrame(
        docs_pdf.to_dict("records"), DOCUMENTS_SCHEMA
    ).cache()


@pytest.fixture(scope="session")
def media_df(spark, corpus_pandas):
    _, media_pdf = corpus_pandas
    return spark.createDataFrame(
        media_pdf.to_dict("records"), MEDIA_SCHEMA
    ).cache()
