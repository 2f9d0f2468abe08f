"""Scale-shape contracts from the round-1 verdict: bucketed pair generation
(no CartesianProduct), pigeonhole-exact simhash banding, NULL-radius reverse
semantics, and cache hygiene of the geocode entry points; plus two source
scans: the ``GEOSPARK_*`` env knob set, and no citation of a missing script."""

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from geospark import dedup, simsearch


def _emb(spark, n=40, dim=16, seed=7):
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    # plant a near-duplicate: vec n = vec 0 with one tiny perturbation
    rows.append((n, [v + (0.001 if j == 0 else 0.0) for j, v in enumerate(rows[0][1])]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_emb_dups_plan_has_no_cartesian_product(spark):
    emb = _emb(spark)
    plan = emb.sparkSession._jvm.PythonSQLUtils if False else None  # noqa: F841
    df = simsearch.embedding_dup_pairs(emb, threshold=0.9)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_emb_dups_lsh_finds_planted_near_identical_pair(spark):
    emb = _emb(spark)
    rows = simsearch.embedding_dup_pairs(emb, threshold=0.99).collect()
    pairs = {(r.vec_a, r.vec_b) for r in rows}
    # a near-identical vector shares every sign bit -> every band -> found
    assert (0, 40) in pairs
    # and the verification is EXACT cosine: all reported pairs qualify
    exact = {(r.vec_a, r.vec_b)
             for r in simsearch.embedding_dup_pairs_exact(emb, threshold=0.99).collect()}
    assert pairs <= exact


def test_simhash_band_offsets_pigeonhole():
    for h in (1, 3, 8, 15):
        offs = dedup.simhash_band_offsets(h)
        assert len(offs) == h + 1
        bits = [b for s, w in offs for b in range(s, s + w)]
        assert sorted(bits) == list(range(63))  # disjoint, complete
        # pigeonhole: any h flipped bits leave >= 1 band untouched
        import itertools
        import random

        rng = random.Random(1)
        for _ in range(50):
            flipped = set(rng.sample(range(63), h))
            untouched = [1 for s, w in offs if not (flipped & set(range(s, s + w)))]
            assert untouched, (h, sorted(flipped))


def test_simhash_pairs_recall_at_advertised_hamming(spark):
    # two docs sharing most words -> small hamming; banding must catch every
    # pair the exact popcount filter would keep at max_hamming=8
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(0, base), (1, base + " lambda"), (2, "totally different words entirely"),
         (3, base + " mu nu")],
        "doc_id long, text string")
    sig = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    want = set()
    for a in sig:
        for b in sig:
            if a < b and bin(sig[a] ^ sig[b]).count("1") <= 8:
                want.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in dedup.simhash_pairs(docs, max_hamming=8).collect()}
    assert got == want


def test_cell_col_jvm_matches_arrow_kernel(spark):
    import random

    from geospark import etl

    rng = random.Random(11)
    L = 20037508.342789244
    rows = [(i, rng.uniform(-L, L), rng.uniform(-L, L)) for i in range(2000)]
    rows += [(9001, -L, -L), (9002, L, L), (9003, 0.0, 0.0), (9004, L - 1e-6, -L)]
    df = spark.createDataFrame(rows, "i long, x double, y double")
    # the house-table res 15, and two coarse polygon-family resolutions
    for res in (15, 6, 8):
        out = df.select(
            etl.cell_col(F.col("x"), F.col("y"), res).alias("kernel"),
            etl.cell_col_jvm(F.col("x"), F.col("y"), res).alias("jvm"),
        ).filter(F.col("kernel") != F.col("jvm"))
        assert out.count() == 0, res


def test_reverse_null_radius_yields_no_rows(spark, geo):
    from geospark.reverse import reverse_geocode

    # a coordinate inside the fixture world, radius NULL: the reference's
    # ST_DWithin(…, NULL) never matches -> zero rows (not a 32 m window)
    q = spark.createDataFrame(
        [(1, 47.9, 9.0, None, 5)],
        "query_id long, lat double, lon double, radius double, limit int")
    assert reverse_geocode(spark, geo["tables"], q).count() == 0


def test_forward_geocode_releases_candidate_cache(spark, geo):
    from geospark.forward import forward_geocode

    q = spark.createDataFrame(
        [(1, "Georgenstr", "34", None, "Amberg", None, None, None, 20000, 5)],
        "query_id long, road string, house_number string, postcode string, "
        "city string, country string, center_lat double, center_lon double, "
        "radius int, limit int")
    jsc = spark.sparkContext._jsc.sc()

    def n_stored():
        return len(jsc.getRDDStorageInfo())

    # warm up: builds the lazy engine state caches + first call's blocks
    warm = forward_geocode(spark, geo["tables"], q)
    assert warm.count() >= 1
    before = n_stored()
    out2 = forward_geocode(spark, geo["tables"], q)
    out3 = forward_geocode(spark, geo["tables"], q)
    assert out2.count() == out3.count()
    # the per-call candidate persist must NOT linger: at most the two
    # checkpointed result blocks (still referenced by out2/out3) may appear —
    # a leak would add 2 candidate caches on top
    assert n_stored() - before <= 2


def test_simhash_recursive_exact_equivalence(spark):
    """simhash_pairs_recursive (the h>3 escape hatch: hot buckets re-band
    their remaining bits, pigeonhole one level down) must return EXACTLY the
    rows of the flat banded join — on a topic-skewed signature set whose hot
    buckets force the recursion to engage."""
    import numpy as np
    import pandas as pd

    from geospark import dedup

    rng = np.random.RandomState(5)
    n = 2000
    sig = rng.randint(0, 1 << 62, size=n, dtype=np.int64) * 2
    topics = rng.randint(0, 1 << 62, size=3, dtype=np.int64) * 2
    pick = topics[rng.randint(0, 3, n // 3)]
    flips = np.zeros(n // 3, dtype=np.int64)
    for _ in range(3):  # few flips → pairs exist at hamming <= 3 too
        flips ^= np.int64(1) << rng.randint(0, 63, n // 3).astype(np.int64)
    sig[: n // 3] = pick ^ flips
    sig &= (1 << 63) - 1
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "simhash": sig})).cache()
    sdf.count()
    for h in (3, 5):
        base = {(r.doc_a, r.doc_b, r.hamming)
                for r in dedup.simhash_pairs_from_signatures(sdf, h).collect()}
        rec = {(r.doc_a, r.doc_b, r.hamming)
               for r in dedup.simhash_pairs_recursive(sdf, h, hot_threshold=40).collect()}
        assert rec == base and base, (h, len(base), len(rec))
        # depth 3 (second recursion level engaged on this skewed set:
        # same-topic docs agree on most sub-chunks, so depth-2 sub-buckets
        # re-exceed a threshold of 10) must still be exact
        rec3 = {(r.doc_a, r.doc_b, r.hamming)
                for r in dedup.simhash_pairs_recursive(
                    sdf, h, hot_threshold=10, max_depth=3).collect()}
        assert rec3 == base, (h, len(base), len(rec3))
    sdf.unpersist()


def test_simhash_recursive_identical_cluster_and_h0(spark):
    """Two guardrails on the recursive pigeonhole (r5):

    1. A cluster of IDENTICAL signatures never splits — its bucket stays hot
       at every level, provably engaging the full ``max_depth`` descent, and
       the final level must pair-join it anyway (exactness is depth-
       independent).
    2. ``max_hamming=0`` makes the single level-1 band span all 63 bits,
       leaving an EMPTY remaining field — previously an unguarded
       StopIteration (ADVICE r4) as soon as any bucket went hot; now it must
       degrade to the flat join."""
    import numpy as np
    import pandas as pd

    from geospark import dedup

    rng = np.random.RandomState(11)
    dup = np.full(120, 0x1234ABCD5678EF, dtype=np.int64)
    noise = rng.randint(0, 1 << 62, size=400, dtype=np.int64)
    sig = np.concatenate([dup, noise]) & ((1 << 63) - 1)
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(sig), dtype=np.int64),
                      "simhash": sig})).cache()
    n_dup_pairs = 120 * 119 // 2
    for h, depth in ((0, 2), (2, 3)):
        base = {(r.doc_a, r.doc_b, r.hamming)
                for r in dedup.simhash_pairs_from_signatures(sdf, h).collect()}
        rec = {(r.doc_a, r.doc_b, r.hamming)
               for r in dedup.simhash_pairs_recursive(
                   sdf, h, hot_threshold=30, max_depth=depth).collect()}
        assert rec == base and len(base) >= n_dup_pairs, (h, len(base), len(rec))
    sdf.unpersist()


_ROOT = Path(__file__).resolve().parents[1]
_SCRIPTS = [f for f in _ROOT.glob("scripts/*") if f.is_file()]


def test_env_knobs_are_the_three_session_settings():
    """Source scan, no Spark: the only ``GEOSPARK_*`` environment knobs are
    the three session settings ``get_spark`` reads. A new knob has to
    replace one of these, not add to them."""
    files = [*_ROOT.glob("geospark/*.py"), *_SCRIPTS, _ROOT / "bench.py"]
    knobs = {k for f in files for k in re.findall(r"GEOSPARK_[A-Z_]+", f.read_text())}
    assert knobs == {"GEOSPARK_DRIVER_MEM", "GEOSPARK_JAVA_OPTS",
                     "GEOSPARK_SHUFFLE_PARTITIONS"}


def test_cited_scripts_exist():
    """Every ``scripts/<name>.py|.sh`` path cited by the living docs, the
    engine modules and the scripts themselves names a file that exists."""
    files = [_ROOT / "README.md", _ROOT / "SCALE.md", _ROOT / "BENCH" / "BASELINE.md",
             _ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
             *_ROOT.glob("geospark/*.py"), *_SCRIPTS]
    missing = sorted({(f.relative_to(_ROOT).as_posix(), cited)
                      for f in files
                      for cited in re.findall(r"scripts/\w+\.(?:py|sh)\b", f.read_text())
                      if not (_ROOT / cited).is_file()})
    assert not missing, missing
