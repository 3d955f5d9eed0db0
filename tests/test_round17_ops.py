"""Round-17 additions (ADVICE r16): registration-time native-decoder
verification, error-isolated env hook, the subspace-variance-audit
zero-division guard, and the cap-before-checkpoint materialization.
"""

from __future__ import annotations

import duckdb
import pytest


def _bmp_fixture():
    from apache_hive_1_2_2_src_spark.extensions import multimodal as mm

    w, h = mm._bmp_fixture_dims(7)
    return mm.encode_bmp24(w, h, mm._phash_fixture_pixel(7)), mm


def test_native_decoder_verify_with_accepts_matching():
    bmp, mm = _bmp_fixture()
    try:
        mm.register_native_decoder("bmp", mm._bmp_pixels, verify_with=bmp)
        assert mm.NATIVE_DECODERS["bmp"] is mm._bmp_pixels
    finally:
        mm.unregister_native_decoder("bmp")


def test_native_decoder_verify_with_rejects_wrong_dims():
    bmp, mm = _bmp_fixture()

    def bad(buf):
        w, h, p = mm._bmp_pixels(buf)
        return w + 1, h, p  # native decoder reporting wrong width

    with pytest.raises(ValueError, match="diverges"):
        mm.register_native_decoder("bmp", bad, verify_with=bmp)
    assert "bmp" not in mm.NATIVE_DECODERS  # never installed


def test_native_decoder_verify_with_rejects_wrong_pixels():
    bmp, mm = _bmp_fixture()

    def bad(buf):
        w, h, p = mm._bmp_pixels(buf)
        return w, h, lambda x, y: (0, 0, 0)  # silently corrupting decoder

    with pytest.raises(ValueError, match="pixel"):
        mm.register_native_decoder("bmp", bad, verify_with=bmp)
    assert "bmp" not in mm.NATIVE_DECODERS


def test_native_decoder_verify_with_tuple_contract():
    from apache_hive_1_2_2_src_spark.extensions import multimodal as mm

    wav = mm.encode_wav_pcm16(
        8000, 1, [(mm._wav_fixture_sample(7, j, 0),) for j in range(40)]
    )
    mm.register_native_decoder("wav", mm._wav_samples, verify_with=wav)
    mm.unregister_native_decoder("wav")
    with pytest.raises(ValueError, match="diverges"):
        mm.register_native_decoder(
            "wav", lambda buf: (8000, 2, ()), verify_with=wav
        )
    assert "wav" not in mm.NATIVE_DECODERS


def test_native_decoder_env_hook_error_names_env_var(monkeypatch):
    # A typo'd spec must fail with a message naming the env var and the
    # spec — not an anonymous ImportError from inside module import.
    from apache_hive_1_2_2_src_spark.extensions import multimodal as mm

    monkeypatch.setenv(
        "SPARK_GRAFT_NATIVE_DECODERS", "no_such_module_xyz:install"
    )
    with pytest.raises(RuntimeError) as ei:
        mm._load_native_decoders_from_env()
    assert "SPARK_GRAFT_NATIVE_DECODERS" in str(ei.value)
    assert "no_such_module_xyz" in str(ei.value)


def test_variance_audit_zero_variance_guard(spark, registry, tmp_path):
    # A corpus where subspace 0 has ZERO variance: Spark's Divide yields
    # NULL on /0 while DuckDB's IEEE division yields inf — the guard must
    # make plan and oracle agree (imbalance3 NULL, rotate_recommended
    # TRUE) exactly when the audit's output is most surprising.
    import pyspark.sql.functions as F

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.concat(
            F.array(*[F.lit(0.0)] * 16),  # subspace 0: constant
            F.array(
                *[
                    (F.col("id") * (i + 3) % 17).cast("double") / 17
                    for i in range(48)
                ]
            ),
        ).alias("embedding"),
        F.lit("x").alias("label"),
    )
    sf = str(tmp_path / "sfzero")
    emb.write.parquet(sf + "/embeddings.parquet")

    q = registry["similarity_subspace_variance_audit"]
    rows = q.build(spark, sf).collect()
    assert [r["subspace"] for r in rows] == [0, 1, 2, 3]
    assert all(r["imbalance3"] is None for r in rows)
    assert all(r["rotate_recommended"] is True for r in rows)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet/*.parquet')"
    )
    orc = con.execute(q.oracle).fetchall()
    assert [(r[0], r[5], r[6]) for r in orc] == [
        (s, None, True) for s in range(4)
    ]
    # and the non-degenerate columns still agree with Spark's
    assert [(r["n_vals"], r["sum_q"], r["sum_q2"]) for r in rows] == [
        (r[1], r[2], r[3]) for r in orc
    ]


def test_containment_cap_materialized_once(spark):
    # ADVICE r16: the capped landmark frame is localCheckpoint-ed, so the
    # df window runs ONCE at build time; nsh and both self-join branches
    # read the materialized RDD instead of re-deriving the window.
    from apache_hive_1_2_2_src_spark.extensions.dedup import (
        _containment_pairs,
    )
    from apache_hive_1_2_2_src_spark.plans import plan_text
    from tests.test_round16_ops import _hot_overlay_frame

    kept = _containment_pairs(_hot_overlay_frame(spark), ("t",), ("off",))
    p = plan_text(kept)
    assert p.count("windowspecdefinition(shingle") == 0
    assert "ExistingRDD" in p
    # behavior unchanged: hot bucket shed, content pair kept
    rows = kept.collect()
    assert len(rows) == 1 and rows[0]["relation"] == "neardup"


def _spectrum_corpus(spark, n=500, k_latent=8):
    # Correlated decaying-spectrum corpus (tools/measure_opq_ivfpq.py):
    # 8 latent factors, geometrically decaying scales, mixed into 64
    # dims by a fixed random loading matrix — off-diagonal covariance.
    import random

    rng = random.Random(7)
    load = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(k_latent)]
    centers = [
        [rng.uniform(-1, 1) for _ in range(k_latent)] for _ in range(32)
    ]
    rows = []
    for i in range(n):
        c = centers[rng.randrange(32)]
        z = [c[j] * (0.7 ** j) + rng.gauss(0, 0.05 * 0.7 ** j)
             for j in range(k_latent)]
        x = [sum(z[j] * load[j][d] for j in range(k_latent))
             + rng.gauss(0, 0.02) for d in range(64)]
        rows.append((i, [float(v) for v in x]))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )


def _exact_top3_set(e):
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from apache_hive_1_2_2_src_spark.extensions.similarity import _dot

    q = e.filter(F.col("vec_id") >= 490).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    pairs = (
        q.crossJoin(e.select(F.col("vec_id").alias("cand_id"), "embedding"))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id",
                _dot(F.col("qe"), F.col("embedding")).alias("d"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("d").desc(), "cand_id")),
        )
        .filter(F.col("rk") <= 3)
    )
    return {(r["query_id"], r["cand_id"]) for r in pairs.collect()}


def test_opq_composed_with_residual_ivfpq(spark):
    # The r17 composition measurement's two load-bearing inequalities
    # (SCALE.md r17, tools/measure_opq_ivfpq.py), pinned with the fully
    # deterministic structured rotation (no LAPACK orbit):
    # (a) on the correlated-spectrum corpus the rotation still pays
    #     INSIDE the residual pipeline (measured 0.067 -> 0.100);
    # (b) on the axis-concentrated corpus residual encoding alone
    #     SUBSUMES the rotation — plain residual recall beats every
    #     rotated FLAT variant (measured 0.233 vs 0.133), which is why
    #     variance imbalance alone no longer gates rotation for IVF+PQ.
    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.extensions.similarity import (
        _pq_adc_report,
        ivfpq_residual_topk,
        opq_rotate,
    )
    from tests.test_round16_ops import _concentrated_corpus

    def recall(df, truth):
        got = {(r["query_id"], r["cand_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    spec = _spectrum_corpus(spark).localCheckpoint()
    truth = _exact_top3_set(spec)
    spec_rot = spec.select(
        "vec_id", opq_rotate(F.col("embedding")).alias("embedding")
    ).localCheckpoint()
    plain = recall(ivfpq_residual_topk(spark, spec), truth)
    rotated = recall(ivfpq_residual_topk(spark, spec_rot), truth)
    assert rotated > plain  # (a): 0.100 > 0.067 at these seeds

    conc = _concentrated_corpus(spark).localCheckpoint()
    truth_c = _exact_top3_set(conc)
    conc_rot = conc.select(
        "vec_id", opq_rotate(F.col("embedding")).alias("embedding")
    ).localCheckpoint()
    resid_plain = recall(ivfpq_residual_topk(spark, conc), truth_c)
    flat_rotated = recall(_pq_adc_report(conc_rot), truth_c)
    assert resid_plain > flat_rotated  # (b): 0.233 > 0.133


def test_basket_pairs_cap_in_plan_and_overlay(spark, registry, tmp_path):
    # r17 scale audit (VERDICT r16 item 6b): the mega-basket cap moved
    # from documentation into the executed plan. Measured at sf0.01: one
    # 5000-part order adds 12.6M join rows (106x the corpus's 119k) and
    # its n_baskets=1 artifacts take ALL 20 top-20 slots. The cap is one
    # window count keyed on the join's own shuffle key (l_orderkey),
    # mirrored by the oracle's QUALIFY stanza.
    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.plans import plan_text

    q = registry["workload_basket_pairs"]
    sf = str(tmp_path / "sfbasket")
    li = spark.range(30).select(
        (F.col("id") % 10).alias("l_orderkey"),
        (F.col("id") % 7).alias("l_partkey"),
    )
    mega = spark.range(200).select(
        F.lit(999).alias("l_orderkey"), F.col("id").alias("l_partkey")
    )
    li.unionByName(mega).write.parquet(sf + "/lineitem.parquet")

    df = q.build(spark, sf)
    p = plan_text(df)
    assert "windowspecdefinition(l_orderkey" in p
    rows = df.collect()
    # every surviving pair comes from the small baskets; the 199*200/2
    # mega pairs are shed with the basket
    assert rows and all(r["part_a"] < 7 and r["part_b"] < 7 for r in rows)

    # r18 (ADVICE): duplicate-line overlay — an order with >64 RAW lines
    # but <=64 DISTINCT parts (the duplicate-heavy wholesale shape the cap
    # exists for) must survive on BOTH engines. DuckDB evaluates a
    # same-block QUALIFY before DISTINCT, so the old oracle capped on raw
    # line count and shed this order while the Spark plan kept it —
    # invisible on TPC-H (<=7 lines/order). The oracle's DISTINCT now
    # lives in a subquery under the QUALIFY; this pins the agreement.
    import duckdb

    sf2 = str(tmp_path / "sfdup")
    dup = spark.range(200).select(
        F.lit(777).alias("l_orderkey"),
        (F.col("id") % 50).alias("l_partkey"),  # 200 lines, 50 distinct
    )
    li.unionByName(dup).write.parquet(sf2 + "/lineitem.parquet")
    got = sorted(tuple(r) for r in q.build(spark, sf2).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf2}/lineitem.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want
    # negative control: the pre-r18 same-block QUALIFY form (cap on raw
    # line count) sheds order 777 and genuinely diverges here — proving
    # this overlay exercises the divergence the fix closes.
    old_form = q.oracle.replace(
        "SELECT * FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem",
    )
    assert old_form != q.oracle
    old = sorted(tuple(r) for r in con.execute(old_form).fetchall())
    assert old != got


def test_covariance_offdiag_audit_decision_behavior(spark, tmp_path):
    # The registered decision operator must fire exactly where the r17
    # composition measurement says rotation pays: the correlated
    # spectrum corpus (cross/diag measured 10.0) recommends, the
    # axis-concentrated corpus (0.03 — residual encoding subsumes the
    # rotation) does not.
    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.registry import load_all
    from tests.test_round16_ops import _concentrated_corpus

    q = load_all()["similarity_covariance_offdiag_audit"]

    def run(corpus, name):
        sf = str(tmp_path / name)
        corpus.withColumn("label", F.lit("x")).write.parquet(
            sf + "/embeddings.parquet"
        )
        rows = {r["kind"]: r for r in q.build(spark, sf).collect()}
        assert set(rows) == {"diag", "within_block", "cross_block"}
        assert rows["diag"]["n_cells"] == 64
        assert rows["within_block"]["n_cells"] == 4 * 16 * 15 // 2
        assert rows["cross_block"]["n_cells"] == (64 * 63 // 2) - 480
        return rows["diag"]

    spec = run(_spectrum_corpus(spark), "sfspec")
    assert spec["rotate_learned_recommended"] is True
    assert spec["rotate_strongly_recommended"] is True

    conc = run(_concentrated_corpus(spark), "sfconc")
    assert conc["cross_exceeds_diag"] is False
    assert conc["rotate_learned_recommended"] is False


def test_curve_layout_hot_cell_tiebreaker_balances(spark):
    # r17 audit (SCALE.md): RangePartitioner cannot split EQUAL range
    # keys, so a hot (x, y) cell lands whole in one output partition —
    # measured 29.4x the ideal at 90% skew. The tiebreaker (the table's
    # unique key) lets equal curve codes split; same overlay balances
    # to ~1x. Within-partition order still sorts by the curve code.
    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.extensions.layout import zorder_layout

    n, files = 200_000, 16
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 10 < 9, F.lit(12345))
        .otherwise((F.col("id") * 7919) % 100000).cast("long").alias("x"),
        F.when(F.col("id") % 10 < 9, F.lit(54321))
        .otherwise((F.col("id") * 104729) % 100000).cast("long").alias("y"),
    )

    def sizes(clustered):
        return sorted(
            r["c"]
            for r in clustered.groupBy(
                F.spark_partition_id().alias("p")
            ).agg(F.count(F.lit(1)).alias("c")).collect()
        )

    hot = sizes(zorder_layout(df, "x", "y", files))
    assert hot[-1] > 5 * (n / files)  # the hot cell swamps one partition
    bal = sizes(zorder_layout(df, "x", "y", files, tiebreaker="rid"))
    assert sum(bal) == n
    assert bal[-1] < 2 * (n / files)  # split across files


def test_tfidf_cap_identical_corpus_verdict(spark):
    # SCALE.md r17: on an every-doc-identical corpus the df<=64 postings
    # cap must route the identical flood OUT of the self-join (exact
    # dedup's job, one groupBy) while still finding the informative
    # near-dup pair.
    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.extensions.text import (
        tfidf_cosine_pairs,
    )

    same = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, same) for i in range(100)]
    rows.append((9001, "zeta omega kappa lambda sigma tau upsilon phi chi"))
    rows.append((9002, "zeta omega kappa lambda sigma tau upsilon phi psi"))
    d = spark.createDataFrame(rows, "doc_id bigint, text string").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    got = [(r["doc_a"], r["doc_b"]) for r in tfidf_cosine_pairs(d).collect()]
    assert got == [(9001, 9002)]


def _naive_sessionize(e, gap_us):
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    numbered = e.withColumn(
        "new_sess",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts_us").cast("long").alias("start_us"),
        F.max("ts_us").cast("long").alias("end_us"),
        F.floor((F.max("ts_us") - F.min("ts_us")) / 1_000_000)
        .cast("long").alias("duration_s"),
    ).select(
        "user_id", F.col("session_id").cast("long").alias("session_id"),
        "n_events", "start_us", "end_us", "duration_s",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_sessionize_bucketed_equivalence_random(spark):
    # Random corpus: 200 users x ~50 events over 30 days, 12h gap, 1-day
    # buckets — sessions routinely cross bucket boundaries.
    import random

    import pyspark.sql.functions as F  # noqa: F401

    from apache_hive_1_2_2_src_spark.operators.windows import (
        sessionize_bucketed,
    )

    rng = random.Random(17)
    rows = []
    eid = 0
    for u in range(200):
        t = rng.randrange(0, 86_400_000_000)
        for _ in range(rng.randrange(20, 80)):
            t += rng.randrange(0, 30 * 3600) * 1_000_000  # 0..30h jumps
            rows.append((u, eid, t))
            eid += 1
    e = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts_us bigint"
    )
    gap = 12 * 3600 * 1_000_000
    assert _rows(sessionize_bucketed(e, gap)) == _rows(
        _naive_sessionize(e, gap)
    )


def test_sessionize_bucketed_boundary_and_hot_user(spark):
    # Constructed edges: a session spanning THREE buckets via chained
    # merges; a bucket whose single local session both merges backward
    # and is continued forward; non-adjacent present buckets (empty day
    # between) both under and over the gap; plus a 20k-event hot user.
    # The hot user's local windows partition on (user_id, tb) — pinned.
    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.operators.windows import (
        sessionize_bucketed,
    )
    from apache_hive_1_2_2_src_spark.plans import plan_text
    from apache_hive_1_2_2_src_spark.plans.audit import (
        window_partition_specs,
    )

    D = 86_400_000_000
    H = 3_600_000_000
    rows = [
        # user 1: one session spanning day0 23:00 -> day1 -> day2 01:00
        (1, 0, 23 * H), (1, 1, D + 1 * H), (1, 2, D + 13 * H),
        (1, 3, 2 * D + 1 * H),
        # then a real 13h gap inside day 2 -> new session
        (1, 4, 2 * D + 15 * H),
        # user 2: empty day between events, gap 26h > 12h -> new session
        (2, 5, 10 * H), (2, 6, 2 * D + 12 * H),
        # user 3: empty day between events but gap 11h <= 12h (23:30 ->
        # day2 10:30 is 35h — make it bucket-adjacent instead: 23:30 ->
        # day1 10:30 = 11h, same session across buckets)
        (3, 7, 23 * H + 30 * 60 * 1_000_000), (3, 8, D + 10 * H + 30 * 60 * 1_000_000),
    ]
    eid = 100
    for i in range(20_000):  # hot user 99: every 10 min for ~139 days
        rows.append((99, eid, i * 600 * 1_000_000))
        eid += 1
    e = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts_us bigint"
    )
    gap = 12 * 3600 * 1_000_000
    got = sessionize_bucketed(e, gap)
    assert _rows(got) == _rows(_naive_sessionize(e, gap))
    # hot user collapses to ONE session with dense id 1
    hot = [r for r in got.collect() if r["user_id"] == 99]
    assert len(hot) == 1 and hot[0]["session_id"] == 1
    assert hot[0]["n_events"] == 20_000
    # no window in the bucketed plan partitions by user_id alone
    specs = window_partition_specs(got)
    assert specs and all(len(s) >= 2 or s == ["user_id"] for s in specs)
    assert any(s == ["user_id", "tb"] for s in specs)
    # the only single-key windows are over the BUCKET SUMMARY frame
    # (event-count-independent); the event-sized window carries (user, tb)
    p = plan_text(got)
    assert "windowspecdefinition(user_id#" in p  # summary stitch window


def test_compact_partitioned_store_preserves_content_and_pruning(spark):
    # SCALE.md r17: streaming store file count grows O(epochs x buckets)
    # while bytes stay O(state). The compactor must collapse to ~1 file
    # per partition dir, preserve content EXACTLY, and keep the pb=
    # layout so plan-level partition pruning still works.
    import glob
    import os

    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.streaming.windows import (
        compact_partitioned_store,
    )
    from apache_hive_1_2_2_src_spark.tmputil import scratch_dir

    base = scratch_dir("compactst")
    store = os.path.join(base, "store")
    # 6 "drops", each appending one file per touched partition dir
    for drop in range(6):
        spark.range(drop * 100, drop * 100 + 100).select(
            F.col("id").alias("k"), F.pmod(F.col("id"), F.lit(8)).cast("int").alias("pb")
        ).repartition(8, "pb").write.mode("append").partitionBy("pb").parquet(store)
    before_rows = sorted(
        (r["k"], r["pb"]) for r in spark.read.parquet(store).collect()
    )
    nfiles = len(glob.glob(store + "/**/*.parquet", recursive=True))
    assert nfiles >= 6 * 8  # the measured epoch-growth shape

    before, after = compact_partitioned_store(spark, store)
    assert before == nfiles and after == 8  # one file per partition dir
    after_rows = sorted(
        (r["k"], r["pb"]) for r in spark.read.parquet(store).collect()
    )
    assert after_rows == before_rows
    # pruned probe still READS only the probed dirs (execution ground
    # truth via input_file_name — df.inputFiles() ignores filter-based
    # partition pruning, see tools/scale_harness.files_opened)
    probe = spark.read.parquet(store).where(F.col("pb").isin([2, 5]))
    opened = {
        r["f"].split("pb=")[1].split("/")[0]
        for r in probe.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    assert opened == {"2", "5"}


def test_compactor_on_real_lsh_stores_preserves_prune_gate(spark):
    # The compactor pinned on the synthetic store, re-pinned on the REAL
    # post-drain LSH state stores: drain the 3-drop ingest, compact both
    # stores in place, assert file counts collapse to <= store_buckets
    # (+1 tolerance for empty-partition absence), content row-counts
    # survive, and a bucket-restricted probe still reads only its dirs.
    import glob
    import os

    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.streaming import windows as sw
    from apache_hive_1_2_2_src_spark.streaming.windows import (
        compact_partitioned_store,
    )
    from tests.conftest import SF_DIR

    sw._lsh_probe_dedup(spark, SF_DIR, n_batches=3).count()
    for store, part_col in (
        (sw.LAST_LSH_STORES["sig"], "sb"),
        (sw.LAST_LSH_STORES["shingle"], "db"),
    ):
        nrows = spark.read.parquet(store).count()
        before, after = compact_partitioned_store(spark, store, part_col)
        assert after <= sw.LAST_LSH_STORES["store_buckets"]
        assert after < before
        assert spark.read.parquet(store).count() == nrows
        probe = spark.read.parquet(store).where(F.col(part_col).isin([0, 3]))
        opened = {
            r["f"].split(f"{part_col}=")[1].split("/")[0]
            for r in probe.select(
                F.input_file_name().alias("f")
            ).distinct().collect()
        }
        assert opened <= {"0", "3"}
