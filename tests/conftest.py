import pytest


@pytest.fixture(scope="session")
def spark():
    from jsonld_js_spark.session import build_session

    s = build_session("jsonld-js-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def no_leaked_streams(request):
    """Stop every streaming query a Spark test leaves active, then fail
    it: a leaked query keeps running micro-batches beside every later
    test in the session."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    yield
    leaked = spark.streams.active
    for q in leaked:
        q.stop()
    if leaked:
        pytest.fail("test left streaming queries active: "
                    f"{[q.name or q.id for q in leaked]}")
