"""Physical-plan discipline: the properties that make these queries survive
a 100x scale-up must be visible in the EXECUTED plan, not just intended —
predicate pushdown reaches the parquet scan, projection prunes columns,
and no pair-generating operator degenerates to a nested-loop/cartesian."""

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_filter_pushed_to_scan(spark):
    from geospark import entry_queries as eq

    plan = _plan(eq.QUERIES["tpch_pricing"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_doc_tokens_prunes_columns(spark):
    from geospark import entry_queries as eq

    plan = _plan(eq.QUERIES["doc_tokens"](spark, SF_DIR))
    # the scan must read only (doc_id, text), not the whole documents schema
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "url" not in read


def test_whole_stage_codegen_covers_scan_paths(spark):
    from geospark import entry_queries as eq

    plan = _plan(eq.QUERIES["doc_quality"](spark, SF_DIR))
    # '*(n)' prefixes mark operators inside a WholeStageCodegen stage
    assert "*(1)" in plan and "ColumnarToRow" in plan


def test_dedup_pair_generators_have_no_nested_loops(spark):
    from geospark import dedup, simsearch

    docs = spark.createDataFrame(
        [(i, f"some words number {i} appear here repeatedly") for i in range(50)],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [float(j + i) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<double>")
    # (minhash_lsh_pairs checkpoints its result eagerly, so its join plan is
    # not inspectable post-hoc; its banding shares the shape asserted here)
    for df in (
        dedup.simhash_pairs(docs, max_hamming=3),
        simsearch.embedding_dup_pairs(emb, threshold=0.9),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_raster_plans_stay_jvm_and_narrow(spark, geo):
    """rasterize/pool/vectorize/zonal_stats must be pure-JVM plans (no
    Arrow/Python eval — the grid keys, ring geometry and point-in-polygon
    test are closed-form columns) with hash aggregation (map-side combine),
    and zonal_stats must not degenerate to a cartesian."""
    from geospark import raster

    h = geo["struct"]["struct_house"]
    r = raster.rasterize(h, 15)
    p = _plan(r)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "HashAggregate" in p

    p13 = _plan(raster.pool(r, steps=2, res=15))
    assert "ArrowEvalPython" not in p13 and "HashAggregate" in p13

    pv = _plan(raster.vectorize(r, 15, F.col("n") >= 5))
    assert "ArrowEvalPython" not in pv and "BatchEvalPython" not in pv

    zones = geo["osm"]["osm_admin"].filter(F.col("admin_level") == 6)
    pz = _plan(raster.zonal_stats(r, zones, 15))
    assert "CartesianProduct" not in pz
    assert "ArrowEvalPython" not in pz and "BatchEvalPython" not in pz


def test_setup_plans_run_no_python(spark, geo, monkeypatch):
    """The OSM set-up runs no Python: the executed plans of every
    build_struct_tables output, of every frame it checkpoints on the way
    (the stage barriers hide the point-in-polygon joins and the centroid
    from the outputs' plans), and of every GeocoderTables cache built
    without OA hold no ArrowEvalPython/BatchEvalPython."""
    from geospark import etl
    from geospark.tables import GeocoderTables

    osm = geo["osm"]
    frames = []
    checkpoint = type(osm["osm_admin"]).localCheckpoint

    def spy(df, eager=True):
        frames.append(df)
        return checkpoint(df, eager)

    monkeypatch.setattr(type(osm["osm_admin"]), "localCheckpoint", spy)
    struct = etl.build_struct_tables(spark, osm)
    monkeypatch.undo()
    t = GeocoderTables(spark, struct, osm["osm_admin"])
    caches = [*struct.values(), t.houses, t.street_city, t.street_gram_df,
              t.street_name_prefix, t.hn_gram_df, t.hn_value_prefix,
              t.country_ids, t.country_gram_df, t.country_name_prefix,
              t.houses_ranked]
    assert len(frames) > 2
    for df in frames + caches:
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    for df in caches:
        df.unpersist()


def test_geocode_join_paths_have_no_cartesian(spark, geo):
    from geospark.forward import forward_geocode
    from geospark.reverse import reverse_geocode

    fq = spark.createDataFrame(
        [(1, "Georgenstr", "34", None, "Amberg", None, None, None, 20000, 5)],
        "query_id long, road string, house_number string, postcode string, "
        "city string, country string, center_lat double, center_lon double, "
        "radius int, limit int")
    fpersists: list = []
    fplan = _plan(forward_geocode(spark, geo["tables"], fq, materialize=False,
                                  persist_registry=fpersists))
    assert "CartesianProduct" not in fplan
    for cached in fpersists:
        cached.unpersist()

    rq = spark.createDataFrame([(1, 47.9, 9.0, 150.0, 5)],
                               "query_id long, lat double, lon double, radius double, limit int")
    rplan = _plan(reverse_geocode(spark, geo["tables"], rq, with_fallback=False))
    assert "CartesianProduct" not in rplan


def test_reverse_plans_run_osm_knn_once(spark, geo):
    """Every reverse sub-result with two consumers is materialized once.
    Left lazy, the plan runs the round-1 candidate join once per consumer
    (kept rows, satisfied set) and, with the OA fallback, the whole OSM kNN
    once more for the left-anti hit set: 7 grid-key joins per call. Only
    the OA kNN may remain in the returned plan. The scalar-limit-1 path
    (the mining pipeline's call) stays lazy, with its 3 grid-key joins.
    Counted over the query's own nodes: the cached relations' build plans
    are not the query's joins."""
    import re

    from geospark.reverse import reverse_geocode

    def grid_joins(df):
        return len(re.findall(r"\(ix#\d+L? = ix#\d+L?\)", _own_nodes(df)))

    rq = spark.read.parquet("fixtures/rev_queries.parquet")
    fb = reverse_geocode(spark, geo["tables"], rq)
    assert grid_joins(fb) == 1
    assert "_pip(" not in _own_nodes(fb)
    assert grid_joins(reverse_geocode(spark, geo["tables"], rq,
                                      with_fallback=False)) == 1
    rq1 = rq.withColumn("limit", F.lit(1))
    assert grid_joins(reverse_geocode(spark, geo["tables"], rq1,
                                      with_fallback=False, scalar_limit=1)) == 3


def _own_nodes(df) -> str:
    """The optimized plan, one line per node, with every cached relation a
    leaf: unlike the plan strings, no InMemoryRelation prints the plan that
    filled its cache."""
    def walk(node):
        yield node.simpleString(1000)
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    return "\n".join(walk(df._jdf.queryExecution().optimizedPlan()))


def _pages_checkpoints(spark, geo, monkeypatch) -> list:
    """The DataFrames geocode_pages checkpoints (it returns its eager
    checkpoint, whose plan is a scan of the materialized rows)."""
    from geospark import mine

    pages = spark.read.parquet("fixtures/webpages.parquet").limit(200)
    checkpointed = []
    checkpoint = type(pages).localCheckpoint

    def spy(df, eager=True):
        checkpointed.append(df)
        return checkpoint(df, eager)

    monkeypatch.setattr(type(pages), "localCheckpoint", spy)
    mine.geocode_pages(spark, geo["tables"], pages)
    monkeypatch.undo()
    assert checkpointed
    return checkpointed


def test_geocode_plans_run_no_query_time_pip(spark, geo, monkeypatch):
    """Admin membership is house data (the ETL's one PIP of every house):
    no geocoder plan runs a Python point-in-polygon per query — no
    ArrowEvalPython and no _pip( among the query's own nodes of reverse
    (window and scalar, with and without the OA fallback), forward (window
    and scalar, with and without country terms) and what geocode_pages
    checkpoints. The ETL's PIP sits behind the cached relations."""
    from geospark.forward import forward_geocode
    from geospark.reverse import reverse_geocode

    t = geo["tables"]
    rq = spark.read.parquet("fixtures/rev_queries.parquet")
    rq1 = rq.withColumn("limit", F.lit(1))
    plans = [reverse_geocode(spark, t, q, with_fallback=fb, scalar_limit=lim)
             for fb in (True, False)
             for q, lim in ((rq, None), (rq1, 1))]

    fq = spark.read.parquet("fixtures/fwd_queries.parquet")
    assert fq.filter(F.col("country").isNotNull()).count() > 0
    persists: list = []
    for q in (fq, fq.withColumn("country", F.lit(None).cast("string"))):
        plans.append(forward_geocode(spark, t, q, materialize=False,
                                     persist_registry=persists))
        plans.append(forward_geocode(spark, t, q.withColumn("limit", F.lit(1)),
                                     materialize=False, persist_registry=persists,
                                     scalar_limit=1))
    plans += _pages_checkpoints(spark, geo, monkeypatch)
    for df in plans:
        nodes = _own_nodes(df)
        assert "ArrowEvalPython" not in nodes and "_pip(" not in nodes
    for cached in persists:
        cached.unpersist()


def test_geocode_plans_carry_no_hex_conversion(spark, geo, monkeypatch):
    """GeocoderTables converts the hex ids to BINARY(32) once, at build, so
    no geocoder plan converts ids between hex and binary per query: no
    unhex( or hex( in the plans of reverse, forward and geocode_pages,
    top-1 (scalar_limit=1) paths included. The build's own conversion sits
    behind the cached relations these plans scan."""
    from geospark.forward import forward_geocode
    from geospark.reverse import reverse_geocode

    def no_hex(df):
        plan = _own_nodes(df)
        assert "InMemoryRelation" in plan and "hex(" not in plan

    rq = spark.read.parquet("fixtures/rev_queries.parquet")
    no_hex(reverse_geocode(spark, geo["tables"], rq, with_fallback=False))
    no_hex(reverse_geocode(spark, geo["tables"], rq.withColumn("limit", F.lit(1)),
                           with_fallback=False, scalar_limit=1))

    fq = spark.read.parquet("fixtures/fwd_queries.parquet")
    persists: list = []
    no_hex(forward_geocode(spark, geo["tables"], fq, materialize=False,
                           persist_registry=persists))
    no_hex(forward_geocode(spark, geo["tables"], fq.withColumn("limit", F.lit(1)),
                           materialize=False, persist_registry=persists, scalar_limit=1))
    for cached in persists:
        cached.unpersist()

    # geocode_pages returns its eager checkpoint: pin what it checkpoints
    for df in _pages_checkpoints(spark, geo, monkeypatch):
        no_hex(df)


def test_expansion_splitter_stays_jvm(spark):
    """The abbreviation expansion + address splitter must compile to chained
    JVM regexp ops inside whole-stage codegen — no Python/Arrow stage for a
    per-query-row string rewrite (it runs on every unstructured query at
    corpus scale)."""
    from geospark.forward import split_address_cols

    q = spark.createDataFrame(
        [(1, "Hauptstr. 5, 95505 Dickenreuth")], "query_id long, search_term string")
    plan = _plan(split_address_cols(q))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "regexp_replace" in plan.lower()
