"""Compare-core tests — the reference's observable scenarios
(FIXTURES.md F1 scenarios 1-6, reference tests/test_scribedb.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scribedb_spark.compare import (
    fingerprint_delta,
    CompareSpec,
    SchemaMismatch,
    chunk_fingerprints,
    compare,
    keyed_diff,
    symmetric_diff,
)

CONST_C = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


@pytest.fixture(scope="module")
def t_test(spark):
    """FIXTURES.md F1: a=1..5000, b=a+10, c=const 52 chars
    (reference tests/test_scribedb.py:29-41)."""
    return (
        spark.range(1, 5001)
        .select(
            F.col("id").cast("int").alias("a"),
            (F.col("id") + 10).cast("int").alias("b"),
            F.lit(CONST_C).alias("c"),
        )
    )


def test_identical(t_test):
    res = compare(t_test, t_test)
    assert res.equal and res.diff_count == 0
    assert res.src_rows == res.tgt_rows == 5000
    res.raise_on_diff()  # must not raise


def test_one_row_mutated(t_test):
    """example.md:261-269 scenario: update c where a=50."""
    mutated = t_test.withColumn(
        "c",
        F.when(F.col("a") == 50, F.lit(CONST_C[:41])).otherwise(F.col("c")),
    )
    res = compare(t_test, mutated)
    assert not res.equal
    assert res.diff_count == 2  # the row, from each side
    rows = {(r["side"], r["a"]) for r in res.diff.collect()}
    assert rows == {("src", 50), ("tgt", 50)}
    with pytest.raises(ValueError):
        res.raise_on_diff()


def test_missing_row(t_test):
    shrunk = t_test.filter(F.col("a") != 123)
    res = compare(t_test, shrunk)
    assert not res.equal and res.diff_count == 1
    r = res.diff.collect()[0]
    assert (r["side"], r["a"]) == ("src", 123)


def test_arity_mismatch(t_test):
    with pytest.raises(SchemaMismatch):
        compare(t_test, t_test.select("a"))


def test_empty_both_sides(t_test):
    empty = t_test.limit(0)
    res = compare(empty, empty)
    assert res.equal and res.src_rows == 0


def test_duplicate_rows_bag_vs_set(t_test):
    """FIXTURES.md F1 scenario 6: the reference's set() semantics miss
    a duplicated row (reference main.py:126-129); bag semantics catch it."""
    dup = t_test.unionAll(t_test.filter(F.col("a") == 7))
    res = compare(t_test, dup)
    assert not res.equal and res.diff_count == 1
    res_set = compare(t_test, dup, CompareSpec(distinct=True))
    assert res_set.equal  # reference-compat mode reproduces the flaw


def test_max_delta_tolerance(t_test):
    mutated = t_test.withColumn(
        "b", F.when(F.col("a") == 9, F.lit(0)).otherwise(F.col("b"))
    )
    assert not compare(t_test, mutated).equal
    assert compare(t_test, mutated, CompareSpec(max_delta=2)).equal


def test_keyed_diff_classification(t_test):
    tgt = (
        t_test.filter(F.col("a") != 100)  # removed
        .withColumn(
            "b", F.when(F.col("a") == 200, F.lit(-1)).otherwise(F.col("b"))
        )  # changed
        .unionAll(
            t_test.sparkSession.createDataFrame(
                [(99999, 1, "x")], "a int, b int, c string"
            )
        )  # added
    )
    kd = keyed_diff(t_test, tgt, ["a"]).collect()
    got = {(r["a"], r["change"]) for r in kd}
    assert got == {(100, "removed"), (200, "changed"), (99999, "added")}


def test_chunk_fingerprints_localize_diff(t_test):
    mutated = t_test.withColumn(
        "b", F.when(F.col("a") == 4321, F.lit(0)).otherwise(F.col("b"))
    )
    spec = CompareSpec(sort_keys=["a"], bucket_rows=1000)
    cs = chunk_fingerprints(t_test, mutated, spec).collect()
    status = {r["chunk_id"]: r["status"] for r in cs}
    assert status == {0: "OK", 1: "OK", 2: "OK", 3: "OK", 4: "NOK"}
    # chained mode agrees on localization
    spec2 = CompareSpec(sort_keys=["a"], bucket_rows=1000, hash_mode="chained")
    cs2 = chunk_fingerprints(t_test, mutated, spec2).collect()
    assert {r["chunk_id"]: r["status"] for r in cs2} == status


def test_symmetric_diff_column_name_independence(t_test):
    """Reference compares positionally; names may differ
    (reference main.py:157-168 checks arity only)."""
    renamed = t_test.toDF("x", "y", "z")
    assert symmetric_diff(t_test, renamed).count() == 0


def test_compare_on_driver_data(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mutated = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 7, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    res = compare(orders, mutated, CompareSpec(keys=["o_orderkey"]))
    assert not res.equal
    assert res.keyed_diff is not None
    kd = res.keyed_diff.collect()
    assert len(kd) == 1 and kd[0]["change"] == "changed" and kd[0]["o_orderkey"] == 7


def test_keyed_diff_rejects_non_unique_key(spark, sf_dir):
    """Driver lineitem has duplicate (l_orderkey, l_linenumber) pairs —
    a full-outer join on it would cross-pair duplicates, so keyed_diff
    must refuse (found via runtime verification)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    with pytest.raises(ValueError, match="not unique"):
        keyed_diff(li, li, ["l_orderkey", "l_linenumber"])


def test_write_report_and_register_views(spark, sf_dir, tmp_path):
    """S6 sink + S3 view registration (sources.py)."""
    from scribedb_spark.sources import register_views, write_report

    register_views(spark, sf_dir)
    assert spark.sql("select count(*) c from nation").collect()[0]["c"] == 25

    res = compare(
        spark.table("orders"),
        spark.table("orders").withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == 3, F.lit(0.0)).otherwise(
                F.col("o_totalprice")
            ),
        ),
    )
    out = str(tmp_path / "report")
    write_report(res.diff, out)
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(back.columns) == set(res.diff.columns)


def test_keyed_diff_null_payload_semantics(spark):
    """Struct comparison must treat NULL==NULL as equal (no phantom
    'changed') while NULL vs value IS a change — load-bearing for
    diffing nullable tables."""
    from scribedb_spark.compare import keyed_diff

    src = spark.createDataFrame(
        [(1, None, "x"), (2, "b", None), (3, "c", "z")], "id int, p1 string, p2 string"
    )
    tgt = spark.createDataFrame(
        [(1, None, "x"), (2, "b", "now-set"), (3, None, "z")],
        "id int, p1 string, p2 string",
    )
    out = {r["id"]: r["change"] for r in keyed_diff(src, tgt, ["id"]).collect()}
    assert out == {2: "changed", 3: "changed"}


def test_fingerprint_delta_incremental_recheck(t_test):
    """Incremental compare: persisting chunk fingerprints per run and
    diffing them flags exactly the changed + appended chunks — the
    scale replacement for the reference's rehash-everything loop."""
    spec = CompareSpec(sort_keys=["a"], bucket_rows=1000)

    def run_fps(df):
        return chunk_fingerprints(df, df, spec).select(
            "chunk_id", F.col("src_fp").alias("fp")
        )

    nxt = t_test.withColumn(
        "b", F.when(F.col("a") == 4321, F.lit(0)).otherwise(F.col("b"))
    ).unionAll(
        t_test.sparkSession.createDataFrame(
            [(99999, 1, "x")], "a int, b int, c string"
        )
    )
    delta = fingerprint_delta(run_fps(t_test), run_fps(nxt)).collect()
    got = {(r["chunk_id"], r["status"]) for r in delta}
    assert got == {(4, "changed"), (5, "added")}


def test_keyed_diff_null_keys_pair_null_safe(spark):
    """Null keys match null keys (IS NOT DISTINCT FROM semantics):
    identical rows with a null key are NOT phantom added+removed
    pairs, and a payload change under a null key classifies as
    'changed' with the column named."""
    from pyspark.sql import functions as F  # noqa: F401

    from scribedb_spark.compare import keyed_diff, keyed_diff_cols

    src = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    same = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    assert keyed_diff(src, same, ["k"]).count() == 0
    assert keyed_diff_cols(src, same, ["k"]).count() == 0

    mut = spark.createDataFrame([(1, "a"), (None, "c")], "k int, v string")
    rows = keyed_diff_cols(src, mut, ["k"]).collect()
    assert len(rows) == 1
    assert rows[0]["k"] is None
    assert rows[0]["change"] == "changed"
    assert rows[0]["changed_cols"] == "v"


def test_tolerance_diff_null_drift_is_violation(spark):
    """NULL<->value drift must be reported (delta is NULL — not
    computable — but viol is true); NULL==NULL must not; null-keyed
    rows must pair null-safely instead of silently dropping."""
    from scribedb_spark.compare import tolerance_diff

    src = spark.createDataFrame(
        [(1, "10.00"), (2, None), (3, None), (4, "7.00"), (None, "1.00")],
        "k int, v string",
    ).select("k", F.col("v").cast("decimal(18,2)").alias("v"))
    tgt = spark.createDataFrame(
        [(1, None), (2, "5.00"), (3, None), (4, "7.005"), (None, "9.00")],
        "k int, v string",
    ).select("k", F.col("v").cast("decimal(18,2)").alias("v"))

    rows = {r["k"]: r for r in tolerance_diff(src, tgt, ["k"], ["v"]).collect()}
    # k=1: value -> NULL, k=2: NULL -> value: both violations, delta NULL
    assert 1 in rows and rows[1]["delta_v"] is None and rows[1]["viol_v"]
    assert 2 in rows and rows[2]["delta_v"] is None and rows[2]["viol_v"]
    # k=3: NULL == NULL -> not a violation
    assert 3 not in rows
    # k=4: inside tolerance (cast rounds 7.005 -> 7.01? decimal(18,2)
    # HALF_UP gives 7.01 -> delta 0.01 == tol -> not a violation)
    assert 4 not in rows
    # null key pairs null-safely: 1.00 -> 9.00 is a real violation
    assert None in rows and rows[None]["viol_v"]


def test_keyed_diff_requires_payload(spark):
    """Keys covering every column must raise a clear error, not
    IndexError/empty-struct degradation."""
    from scribedb_spark.compare import keyed_diff, keyed_diff_cols

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError, match="payload"):
        keyed_diff(df, df, ["k", "v"])
    with pytest.raises(ValueError, match="payload"):
        keyed_diff_cols(df, df, ["k", "v"])


def test_sampled_diff_deterministic_and_complete_at_full_fraction(spark):
    """sampled_diff: fraction=1.0 must equal the full symmetric diff;
    a smaller fraction must only ever return a SUBSET of it (the
    key-hash predicate picks the same logical rows on both sides, so
    no sampled row can be a false positive); and resampling is
    deterministic across invocations."""
    from scribedb_spark.compare import sampled_diff, symmetric_diff

    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k int, v string"
    )
    tgt = spark.createDataFrame(
        [(i, f"v{i}" if i % 20 else "MUT") for i in range(200)],
        "k int, v string",
    )
    full = {tuple(r) for r in symmetric_diff(src, tgt).collect()}
    assert {tuple(r) for r in sampled_diff(src, tgt, ["k"], 1.0).collect()} == full
    half1 = {tuple(r) for r in sampled_diff(src, tgt, ["k"], 0.5).collect()}
    half2 = {tuple(r) for r in sampled_diff(src, tgt, ["k"], 0.5).collect()}
    assert half1 == half2  # deterministic, not rand()-based
    assert half1 <= full and len(half1) > 0


def test_column_fingerprints_catches_value_swap(spark, sf_dir):
    """column_fingerprints hashes key-paired cells: swapping one
    column's values between two rows leaves the column's value
    multiset unchanged but MUST still flag the column (a plain
    per-column multiset hash would miss it); untouched columns stay
    equal."""
    from pyspark.sql import functions as F

    from scribedb_spark.compare import column_fingerprints

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # swap o_orderpriority between keys 1 and 7
    a = src.filter(F.col("o_orderkey") == 1).head()["o_orderpriority"]
    b = src.filter(F.col("o_orderkey") == 7).head()["o_orderpriority"]
    if a == b:  # ensure the swap is observable
        b = a + "-X"
    tgt = src.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") == 1, F.lit(b))
        .when(F.col("o_orderkey") == 7, F.lit(a))
        .otherwise(F.col("o_orderpriority")),
    )
    rows = {
        r["col_name"]: r["equal"]
        for r in column_fingerprints(src, tgt, ["o_orderkey"]).collect()
    }
    assert rows.pop("o_orderpriority") is False
    assert all(rows.values()), rows


def test_bucket_recommendation_null_when_no_power_fits(spark):
    """layout_bucket_advisor's rec join must EMIT the metrics row
    with rec_buckets NULL when no power of two <= 2^30 covers the
    need (the oracle's scalar subquery returns NULL there; an inner
    join dropped the row entirely — round-8 fix). Unreachable with
    real test data (needs n_rows > target * 2^30), so driven with a
    fabricated metrics row."""
    from pyspark.sql import functions as F

    from scribedb_spark.analytics import bucket_recommendation

    powers = spark.range(31).select(
        F.expr("shiftleft(1L, cast(id as int))").alias("p")
    )
    m = spark.createDataFrame(
        [
            ("huge", "k", 10**15, 10**9, 10**6, 1, 2**40),
            ("ok", "k", 8192, 100, 90, 10986, 2),
        ],
        "table_name string, key_name string, n_rows long, n_keys long,"
        " max_key_rows long, hot_key_ppm long, need long",
    )
    rows = {r["table_name"]: r for r in bucket_recommendation(m, powers).collect()}
    assert set(rows) == {"huge", "ok"}
    assert rows["huge"]["rec_buckets"] is None
    assert rows["ok"]["rec_buckets"] == 2


def _keyed_pair(spark):
    """Keyed sides covering the diff-derived report's edge cases: a
    NULL key, NULL payloads, NaN and -0.0 payloads, decimals, and
    added / removed / changed rows among unchanged filler."""
    from decimal import Decimal as D

    schema = "k int, a double, b decimal(10,2), c string"
    nan = float("nan")
    filler = [(i, i * 0.5, D(f"{i}.25"), f"f{i}") for i in range(100, 140)]
    src = [
        (None, 1.0, D("1.00"), "x"),  # changed a, under a NULL key
        (1, nan, D("2.50"), "a"),  # NaN == NaN: unchanged
        (2, -0.0, D("3.00"), "b"),  # -0.0 == 0.0: unchanged
        (3, 1.5, None, "c"),  # NULL == NULL: unchanged
        (4, 2.0, None, "d"),  # changed b: NULL -> value
        (5, nan, D("5.00"), None),  # changed a and c
        (6, 0.0, D("6.00"), "f"),  # removed
        (8, -0.0, D("8.00"), "h"),  # changed b
    ]
    tgt = [
        (None, 2.0, D("1.00"), "x"),
        (1, nan, D("2.50"), "a"),
        (2, 0.0, D("3.00"), "b"),
        (3, 1.5, None, "c"),
        (4, 2.0, D("4.00"), "d"),
        (5, 1.0, D("5.00"), "e"),
        (7, 7.0, D("7.00"), "g"),  # added
        (8, -0.0, D("8.10"), "h"),
    ]
    return (
        spark.createDataFrame(src + filler, schema),
        spark.createDataFrame(tgt + filler, schema),
    )


def test_compare_keyed_reports_from_diff_match_full_data(spark):
    """compare() pairs its keyed reports from the symmetric diff's own
    rows; with a unique key per side they must equal keyed_diff /
    keyed_diff_cols run on the full inputs — same keys, change classes
    and changed columns, whatever row_limit and max_delta say. Payload
    structs read as the diff renders them (-0.0 as 0.0), so floats are
    compared by value."""
    import math

    from scribedb_spark.compare import keyed_diff_cols

    src, tgt = _keyed_pair(spark)

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else v + 0.0  # -0.0 -> 0.0
        if hasattr(v, "asDict"):
            return tuple(norm(x) for x in v)
        return v

    def rows(df):
        return sorted(
            (tuple(norm(x) for x in r) for r in df.collect()), key=repr
        )

    want_cols = rows(keyed_diff_cols(src, tgt, ["k"]))
    want_kd = rows(keyed_diff(src, tgt, ["k"]))
    assert {(r[0], r[1]) for r in want_cols} == {
        (None, "changed"),
        (4, "changed"),
        (5, "changed"),
        (6, "removed"),
        (7, "added"),
        (8, "changed"),
    }
    for max_delta, equal in ((2, False), (50, True)):
        res = compare(
            src, tgt, CompareSpec(keys=["k"], row_limit=3, max_delta=max_delta)
        )
        assert res.diff_count == 10 and res.equal is equal
        assert len(res.diff.collect()) == 3
        assert rows(res.changed_cols) == want_cols
        assert rows(res.keyed_diff) == want_kd


def test_compare_rejects_non_unique_key_naming_side(spark):
    """The one grouped key check over both sides still raises and
    names the side that holds the duplicate (src first when both do)."""
    src, tgt = _keyed_pair(spark)
    dup_src = src.unionByName(src.filter(F.col("k") == 100))
    dup_tgt = tgt.unionByName(tgt.filter(F.col("k") == 100))
    spec = CompareSpec(keys=["k"])
    with pytest.raises(ValueError, match="not unique on the src side"):
        compare(dup_src, tgt, spec)
    with pytest.raises(ValueError, match="not unique on the tgt side"):
        compare(src, dup_tgt, spec)
    with pytest.raises(ValueError, match="not unique on the src side"):
        compare(dup_src, dup_tgt, spec)


def _pair(spark, n):
    return spark.range(n).select("id", (F.col("id") * 2).alias("v"))


@pytest.mark.parametrize(
    "n_src,n_tgt",
    [(20, 21), (21, 20), (20, 0), (0, 20)],
    ids=["tgt-extra-chunk", "src-extra-chunk", "empty-tgt", "empty-src"],
)
def test_one_sided_chunks_flagged_by_chunks_and_merkle(spark, n_src, n_tgt):
    """A chunk that exists on one side only — a trailing row that
    starts a new chunk, or a whole empty side — is NOK in the chunk
    report and differs in the merkle drill (which once inner-joined
    levels on node_id, so tgt = src plus one trailing row came back as
    an empty drill and the CLI printed 'Datasets are identicals'). Both
    agree chunk for chunk: same ids, NULL on the same side, and the
    merkle leaf hash is the chunk fingerprint mod 2^61-1. The
    persisted-tree path (per-side merkle_levels) gives the same drill."""
    from scribedb_spark.compare import _MERSENNE61, merkle_drill, merkle_levels

    src, tgt = _pair(spark, n_src), _pair(spark, n_tgt)
    assert compare(src, tgt).equal is False
    spec = CompareSpec(sort_keys=["id"], bucket_rows=5)
    nok = {
        r["chunk_id"]: r
        for r in chunk_fingerprints(src, tgt, spec).collect()
        if r["status"] == "NOK"
    }
    drill = {
        r["chunk_id"]: (r["h_src"], r["h_tgt"])
        for r in merkle_drill(src, tgt, ["id", "v"], ["id"], bucket_rows=5).collect()
    }
    lo, hi = min(n_src, n_tgt), max(n_src, n_tgt)
    want = set(range(lo // 5, (hi + 4) // 5))
    assert set(nok) == set(drill) == want

    def h(fp):
        return None if fp is None else str(int(fp) % _MERSENNE61)

    for cid, r in nok.items():
        assert drill[cid] == (h(r["src_fp"]), h(r["tgt_fp"]))
        assert (r["src_rows"] is None) == (drill[cid][0] is None)
        assert (r["tgt_rows"] is None) == (drill[cid][1] is None)
    persisted = merkle_drill(
        src,
        tgt,
        ["id", "v"],
        ["id"],
        src_levels=merkle_levels(src, ["id", "v"], ["id"], 5),
        tgt_levels=merkle_levels(tgt, ["id", "v"], ["id"], 5),
    )
    assert {
        r["chunk_id"]: (r["h_src"], r["h_tgt"]) for r in persisted.collect()
    } == drill
