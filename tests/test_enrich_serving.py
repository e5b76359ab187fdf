"""External-lookup enrichment + serving-layer semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcpdatapipelines_spark import serving
from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators import enrich as E
from tests.conftest import SF_SMOKE, jobs_started_by


def test_resolver_called_per_distinct_key(spark):
    """The resolver path must resolve O(distinct keys), never O(rows):
    events has many rows per user, the enriched output must still carry
    one country per user_id and all original rows."""
    ev = read_table(spark, SF_SMOKE, "events")
    out = E.enrich_via_resolver(
        ev, "user_id", E.fake_geo_resolver, "user_id BIGINT, country STRING"
    )
    assert out.count() == ev.count()
    per_user = out.groupBy("user_id").agg(F.countDistinct("country").alias("n"))
    assert per_user.filter(F.col("n") != 1).count() == 0
    one = out.filter(F.col("user_id") == 3).select("country").first()["country"]
    assert one == "CTRY_3"


def test_enrich_via_dimension_left_join(spark):
    s = read_table(spark, SF_SMOKE, "supplier")
    n = read_table(spark, SF_SMOKE, "nation")
    out = E.enrich_via_dimension(s, n, s.s_nationkey == n.n_nationkey)
    assert out.count() == s.count()


def test_point_query_hit_and_miss(spark):
    n = read_table(spark, SF_SMOKE, "nation")
    name = n.first()["n_name"]
    hit = serving.point_query(n, "n_name", name.lower(), {"n_regionkey": 0})
    assert hit["n_name"] == name  # case-insensitive probe
    miss = serving.point_query(
        n, "n_name", "atlantis", {"n_regionkey": 0, "n_nationkey": -1}
    )
    # reference contract: zero-filled defaults + echoed key, not an error
    assert miss == {"n_regionkey": 0, "n_nationkey": -1, "n_name": "atlantis"}


def test_index_lookup_matches_point_query(spark):
    n = read_table(spark, SF_SMOKE, "nation")
    idx = serving.build_index(n, "n_name")
    name = n.first()["n_name"]
    assert serving.index_lookup(idx, "n_name", name.upper(), {})["n_name"] == name
    assert serving.index_lookup(idx, "n_name", "nope", {"x": 0}) == {
        "x": 0,
        "n_name": "nope",
    }


# two rows share one key in different case with different payloads, a
# null key and an empty key: the rows that tell an index apart from
# filter + limit(1)
DIM_ROWS = [("Alpha", 1), ("beta", 2), ("ALPHA", 3), (None, 4), ("", 5), ("Gamma", 6)]
PROBES = ["alpha", "ALPHA", "Alpha", "BETA", "gamma", "", "delta", "None", "alp"]


def _dim(spark, path, rows=DIM_ROWS):
    spark.createDataFrame(rows, "k string, v int").repartition(1).write.mode(
        "overwrite"
    ).parquet(str(path))
    return spark.read.parquet(str(path))


def _probe_all(df):
    return [serving.point_query(df, "k", p, {"v": 0}) for p in PROBES]


def test_index_lookup_keeps_the_row_point_query_returns(spark):
    df = spark.createDataFrame([("Host", 1), ("HOST", 2), ("other", 3)], "k string, v int")
    idx = serving.build_index(df, "k")
    for probe in ("host", "HOST", "Other", "nope"):
        assert serving.index_lookup(idx, "k", probe, {"v": 0}) == serving.point_query(
            df, "k", probe, {"v": 0}
        )


def test_lookup_results_are_copies(spark, tmp_path):
    df = spark.createDataFrame([("Host", 1)], "k string, v int")
    idx = serving.build_index(df, "k")
    serving.index_lookup(idx, "k", "host", {})["v"] = 99
    assert serving.index_lookup(idx, "k", "host", {}) == {"k": "Host", "v": 1}
    cached = _dim(spark, tmp_path / "dim").cache()
    try:
        serving.point_query(cached, "k", "beta", {})["v"] = 99
        assert serving.point_query(cached, "k", "beta", {}) == {"k": "beta", "v": 2}
    finally:
        cached.unpersist()


def test_cached_point_query_matches_the_spark_path(spark, tmp_path):
    df = _dim(spark, tmp_path / "dim")
    want = _probe_all(df)
    assert want[0] == want[1] == want[2] == {"k": "Alpha", "v": 1}
    assert want[5] == {"k": "", "v": 5} and want[7] == {"v": 0, "k": "None"}
    df.cache()
    try:
        assert _probe_all(df) == want
        assert serving._cached_index(df, "k") is not None
    finally:
        df.unpersist()


def test_cached_probes_after_the_first_start_no_job(spark, tmp_path):
    df = _dim(spark, tmp_path / "dim")
    probes = [PROBES[i % len(PROBES)] for i in range(100)]
    df.cache()
    try:
        _, first = jobs_started_by(spark, lambda: serving.point_query(df, "k", "alpha", {}))
        _, rest = jobs_started_by(
            spark, lambda: [serving.point_query(df, "k", p, {}) for p in probes]
        )
    finally:
        df.unpersist()
    assert first >= 1
    assert rest == 0


def test_write_under_a_cached_frame_rebuilds_the_index(spark, tmp_path):
    path = tmp_path / "dim"
    df = _dim(spark, path).cache()
    try:
        assert serving.point_query(df, "k", "gamma", {}) == {"k": "Gamma", "v": 6}
        _dim(spark, path, [("Gamma", 1006)])
        assert serving.point_query(df, "k", "gamma", {}) == {"k": "Gamma", "v": 1006}
        assert serving.point_query(df, "k", "beta", {"v": 0}) == {"k": "beta", "v": 0}
    finally:
        df.unpersist()


def test_unpersisted_frame_takes_the_spark_path(spark, tmp_path):
    df = _dim(spark, tmp_path / "dim").cache()
    serving.point_query(df, "k", "alpha", {})
    df.unpersist()
    assert serving._cached_index(df, "k") is None
    got, jobs = jobs_started_by(spark, lambda: serving.point_query(df, "k", "beta", {}))
    assert got == {"k": "beta", "v": 2} and jobs >= 1


def test_negative_broadcast_threshold_disables_the_index(spark, tmp_path):
    conf = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(conf)
    df = _dim(spark, tmp_path / "dim").cache()
    spark.conf.set(conf, "-1")
    try:
        for p in PROBES[:3]:
            _, jobs = jobs_started_by(spark, lambda p=p: serving.point_query(df, "k", p, {}))
            assert jobs >= 1, p
        assert serving._cached_index(df, "k") is None
    finally:
        spark.conf.set(conf, before)
        df.unpersist()


def test_index_memo_keeps_only_live_cache_entries(spark, tmp_path):
    df = _dim(spark, tmp_path / "dim")
    app = spark.sparkContext.applicationId
    sizes = []
    for _ in range(5):
        df.cache()
        assert serving.point_query(df, "k", "beta", {}) == {"k": "beta", "v": 2}
        persisted = spark.sparkContext._jsc.getPersistentRDDs()
        assert all(k[0] == app and persisted.containsKey(k[1]) for k in serving._INDEXES)
        sizes.append(len(serving._INDEXES))
        df.unpersist()
    assert len(set(sizes)) == 1, sizes


def _count_round_trips(monkeypatch) -> list[int]:
    """A one-element counter of the py4j method calls this thread sends,
    counted by wrapping GatewayClient.send_command until the test's
    monkeypatch undoes it. Other threads' calls and the memory-release
    commands of proxies that Python collects meanwhile are not counted."""
    import threading

    from py4j.java_gateway import GatewayClient
    from py4j.protocol import CALL_COMMAND_NAME

    calls = [0]
    send = GatewayClient.send_command
    thread = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if command.startswith(CALL_COMMAND_NAME) and threading.get_ident() == thread:
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    return calls


def test_warm_cached_probes_make_one_jvm_round_trip(spark, tmp_path, monkeypatch):
    df = _dim(spark, tmp_path / "dim").cache()
    try:
        serving.point_query(df, "k", "alpha", {})
        calls = _count_round_trips(monkeypatch)
        got = [serving.point_query(df, "k", PROBES[i % len(PROBES)], {"v": 0}) for i in range(100)]
        monkeypatch.undo()
    finally:
        df.unpersist()
    assert calls[0] <= 100, calls
    assert got[0] == {"k": "Alpha", "v": 1} and got[6] == {"v": 0, "k": "delta"}


def _clear_cache(spark, df, path):
    spark.catalog.clearCache()
    return "k", "beta", {"k": "beta", "v": 2}, False


def _other_key_col(spark, df, path):
    return "v", "6", {"k": "Gamma", "v": 6}, True


@pytest.mark.parametrize("change", [_clear_cache, _other_key_col], ids=["clearCache", "key_col"])
def test_a_repeat_probe_after_a_change_takes_the_right_path(spark, tmp_path, change):
    """A repeat probe of a frame is served from its memoized resolution
    only while the frame's cache entry and key column are unchanged:
    after the change the next probe answers from the new state, from
    an index when the frame is still cached and by the Spark path when
    it is not. unpersist and a write under the cached path have their
    own tests: test_unpersisted_frame_takes_the_spark_path and
    test_write_under_a_cached_frame_rebuilds_the_index."""
    path = tmp_path / "dim"
    df = _dim(spark, path).cache()
    try:
        for _ in range(2):  # the second probe is served from the memo
            assert serving.point_query(df, "k", "beta", {"v": 0}) == {"k": "beta", "v": 2}
        key_col, key, want, indexed = change(spark, df, path)
        assert serving.point_query(df, key_col, key, {"v": 0}) == want
        assert (serving._cached_index(df, key_col) is not None) == indexed
        assert serving.point_query(df, key_col, key, {"v": 0}) == want
    finally:
        df.unpersist()


def test_the_memo_does_not_keep_a_dropped_frame_alive(spark, tmp_path):
    import gc
    import weakref

    df = _dim(spark, tmp_path / "dim").cache()
    serving.point_query(df, "k", "beta", {})
    assert df in serving._RESOLVED
    df.unpersist()
    ref = weakref.ref(df)
    del df
    gc.collect()
    assert ref() is None


def test_web_apps_import_gated(spark):
    """App factories must degrade to None (not raise) without the web
    frameworks installed; with them installed they must build."""
    n = read_table(spark, SF_SMOKE, "nation")
    for factory in (serving.make_flask_app, serving.make_fastapi_app):
        app = factory(n, "n_name", {"n_regionkey": 0})
        assert app is None or app is not None  # no exception is the contract


def test_flask_app_end_to_end(spark):
    """Drive the Flask serving app over real request/response cycles
    (reference Flask_app/main.py:14-47): /hello smoke endpoint, a hit
    with case-insensitive key matching, and the missing-key contract
    (zero-filled defaults + echoed key, HTTP 200 — never an error)."""
    flask = pytest.importorskip("flask")
    n = read_table(spark, SF_SMOKE, "nation")
    app = serving.make_flask_app(n, "n_name", {"n_regionkey": 0, "n_nationkey": -1})
    assert app is not None
    client = app.test_client()

    r = client.get("/hello")
    assert r.status_code == 200
    assert r.data == b"Hello World!"  # reference Flask_app/main.py:10-12

    first = n.first()
    hit = client.get(f"/lookup/{first['n_name'].upper()}")
    assert hit.status_code == 200
    body = hit.get_json()
    assert body["n_name"] == first["n_name"]
    assert body["n_nationkey"] == first["n_nationkey"]

    miss = client.get("/lookup/atlantis")
    assert miss.status_code == 200  # missing key is NOT an error
    assert miss.get_json() == {
        "n_regionkey": 0,
        "n_nationkey": -1,
        "n_name": "atlantis",
    }


def test_fastapi_app_end_to_end(spark):
    """Same contract over FastAPI (reference Fast_API/main.py:19-44);
    skip-gated — fastapi/starlette are absent from this image."""
    pytest.importorskip("fastapi")
    starlette_tc = pytest.importorskip("starlette.testclient")
    n = read_table(spark, SF_SMOKE, "nation")
    app = serving.make_fastapi_app(n, "n_name", {"n_regionkey": 0, "n_nationkey": -1})
    client = starlette_tc.TestClient(app)
    assert client.get("/hello").json() == {"msg": "Hello World!"}
    miss = client.get("/lookup/atlantis").json()
    assert miss == {"n_regionkey": 0, "n_nationkey": -1, "n_name": "atlantis"}
