"""Pins for the round-10 junk-MOVEMENT guards (JUNKCHECK.json, written by
``tools/make_manifest.py --perturb junk``).

The round-9 junk smoke proved no query CRASHES on junk; the round-10
movement probe (clean-vs-junk fingerprint + oracle replay on the junk
corpus) found the class of bugs where junk silently FABRICATES data.
Root cause in most of them: Spark's ``floor()`` on a double returns
LONG with silent saturation — ``floor(NaN) = 0``, ``floor(Infinity) =
Long.MAX`` — even under ANSI (only an explicit CAST raises). These
tests pin the guards so the fabrication class cannot regress.
"""

import math

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

NAN = float("nan")
INF = float("inf")


def test_spark_floor_saturates_silently(spark):
    """The premise: floor() fabricates instead of raising. If a Spark
    upgrade changes this, the guards below become belt-and-braces and
    this pin documents the shift."""
    row = spark.sql(
        "SELECT floor(CAST('NaN' AS DOUBLE)) AS f_nan, "
        "floor(CAST('Infinity' AS DOUBLE)) AS f_inf"
    ).first()
    assert row.f_nan == 0
    assert row.f_inf == 9223372036854775807


def test_quantize_drops_nonfinite_vectors(spark):
    from yandex_tracker_exporter_spark.operators.similarity import (
        quantize_embeddings,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("embedding", ArrayType(FloatType()), True),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, [NAN, 1.0, 1.0]),  # would quantize to fake codes
            (3, [INF, 1.0, 1.0]),  # would quantize to ±Long.MAX codes
            (4, None),
            (5, [0.0, 0.0, 0.0]),  # zero vector KEEPS the scale-0 path
            (6, []),  # empty KEEPS the scale-0 path
        ],
        schema,
    )
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert set(out) == {1, 5, 6}
    assert out[5].scale == 0.0 and list(out[5].qvec) == [0, 0, 0]
    assert out[6].qvec == []


def test_quantize_kernel_bitexact_vs_expression_twin(spark):
    """The r12 Arrow kernel (default) and the pure-expression path must
    agree BIT-for-bit — surviving rows, scale doubles, every code —
    including on the junk shapes the quarantine adjudicates (NaN / Inf
    / NULL element / NULL vector / empty / ragged / element=None)."""
    from yandex_tracker_exporter_spark.operators.similarity import (
        quantize_embeddings,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("embedding", ArrayType(FloatType()), True),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, [NAN, 1.0, 1.0]),
            (3, [INF, 1.0, 1.0]),
            (4, None),
            (5, [0.0, 0.0, 0.0]),
            (6, []),
            (7, [None, 1.0, 2.0]),  # NULL element → quarantined both paths
            (8, [0.3]),  # ragged width is fine in both paths
            (9, [-INF, 5.0]),
            (10, [1.5, 2.5, -63.0, 0.25]),  # .5 tie points
        ],
        schema,
    )
    kern = sorted(
        (r.vec_id, r.scale, list(r.qvec))
        for r in quantize_embeddings(df, use_kernel=True).collect()
    )
    expr = sorted(
        (r.vec_id, r.scale, list(r.qvec))
        for r in quantize_embeddings(df, use_kernel=False).collect()
    )
    assert kern == expr
    assert [v for v, _, _ in kern] == [1, 5, 6, 8, 10]


def test_label_centroids_excludes_nonfinite_vectors(spark):
    from yandex_tracker_exporter_spark.operators.clustering import (
        label_centroids,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("embedding", ArrayType(FloatType()), True),
            StructField("label", LongType(), True),
        ]
    )
    clean = spark.createDataFrame([(1, [2.0, 4.0], 0), (2, [4.0, 8.0], 0)], schema)
    dirty = clean.unionByName(
        spark.createDataFrame([(3, [NAN, NAN], 0), (4, [INF, 1.0], 0)], schema)
    )
    want = sorted(tuple(r) for r in label_centroids(clean).collect())
    got = sorted(tuple(r) for r in label_centroids(dirty).collect())
    assert got == want  # junk vectors contribute NOTHING, not zeros


def test_chunkers_skip_null_text_keep_empty(spark):
    from yandex_tracker_exporter_spark.operators.dedup import cdc_chunks
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        chunk_tokens,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "")], schema
    )
    tok = chunk_tokens(df, chunk_size=4, overlap=1)
    assert sorted(r.doc_id for r in tok.collect()) == [1, 3]
    cdc = cdc_chunks(df)
    by_doc = {}
    for r in cdc.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 3}
    # the documented empty-doc convention survives: one zero-length chunk
    assert len(by_doc[3]) == 1 and by_doc[3][0].chunk_len == 0


def test_reset_running_total_quarantines_fabricated_cents(spark):
    from yandex_tracker_exporter_spark.operators.temporal import (
        reset_running_total,
    )

    schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("ts", StringType(), True),
            StructField("event_id", LongType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    clean_rows = [
        (1, "2024-01-01 10:00:00", 1, 5.0),
        (1, "2024-01-01 10:10:00", 2, 7.0),
    ]
    junk_rows = [
        (1, "2024-01-01 10:05:00", 3, NAN),  # floor(NaN)=0 fabrication
        (None, "2024-01-01 10:06:00", 4, 1.0),
        (1, None, 5, 1.0),
    ]
    clean = spark.createDataFrame(clean_rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    dirty = spark.createDataFrame(clean_rows + junk_rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = sorted(tuple(r) for r in reset_running_total(clean).collect())
    got = sorted(tuple(r) for r in reset_running_total(dirty).collect())
    assert got == want


def test_measurable_max_rail_blocks_extreme_magnitudes(spark):
    """Junk wave 3: a FINITE 1e308 reading is as corrupting as NaN —
    CAST(1e308 AS DECIMAL(18,2)) raises under ANSI (one junk row kills
    a decimal-sum job) and floor(1e308*100) silently saturates to
    Long.MAX (fabricated cents that overflow int64 sums). The shared
    _measurable guard and its per-query twins bound |value| < 1e15."""
    from yandex_tracker_exporter_spark.operators.funnel import (
        MEASURABLE_MAX,
        _measurable,
    )

    assert MEASURABLE_MAX == 1e15
    schema = StructType(
        [
            StructField("value", DoubleType(), True),
            StructField("tag", StringType(), True),
        ]
    )
    df = spark.createDataFrame(
        [
            (1.0, "ok"),
            (1e308, "huge"),
            (-1e20, "neg_huge"),
            (999_999_999_999_999.0, "just_under"),
            (NAN, "nan"),
            (None, "null"),
        ],
        schema,
    )
    kept = sorted(r.tag for r in _measurable(df, "value").collect())
    assert kept == ["just_under", "ok"]


def test_zscore_magnitude_rail(spark):
    """Direct pin on the fabrication path: without the rail, a 1e308
    reading becomes Long.MAX cents whose squared moments overflow-crash
    the whole segment under ANSI."""
    from pyspark.sql.types import StringType as _S

    from yandex_tracker_exporter_spark.operators.grouped import zscore_outliers

    schema = StructType(
        [
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("event_id", LongType(), True),
        ]
    )
    clean_rows = [("a", float(v), i) for i, v in enumerate([1, 2, 3, 100])]
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(
        clean_rows + [("a", 1e308, 99), ("a", -1e20, 98)], schema
    )
    want = sorted(tuple(r) for r in zscore_outliers(clean).collect())
    got = sorted(tuple(r) for r in zscore_outliers(dirty).collect())
    assert got == want  # completes AND ignores the junk readings
    assert _S is not None


def test_gap_fill_span_explosion_rail(spark):
    """One corrupted clock must not OOM the densification: an epoch-0
    event against a 2024 corpus implies ~473k hourly slots; with
    max_slots below that the operator fails loudly naming the span
    instead of materializing the grid."""
    from yandex_tracker_exporter_spark.operators.funnel import gap_fill_hourly

    schema = StructType(
        [
            StructField("ts", StringType(), True),
            StructField("event_type", StringType(), True),
        ]
    )
    df = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "view"),
            ("2024-01-01 12:00:00", "click"),
            ("1970-01-01 00:00:00", "view"),  # corrupted clock
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="span explosion"):
        gap_fill_hourly(df, max_slots=10_000).count()
    # sane spans still densify (3 slots here), junk clock included —
    # the rail is a guard, not a quarantine
    out = gap_fill_hourly(df.where(F.year("ts") == 2024)).collect()
    assert len(out) == 3 * 2  # 3 hours x 2 types


def test_zscore_rejects_fractional_sigmas(spark):
    from yandex_tracker_exporter_spark.operators.grouped import zscore_outliers

    schema = StructType(
        [
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("event_id", LongType(), True),
        ]
    )
    df = spark.createDataFrame([("a", 1.0, 1)], schema)
    with pytest.raises(TypeError, match="sigmas"):
        zscore_outliers(df, sigmas=2.5)
    with pytest.raises(TypeError, match="sigmas"):
        zscore_outliers(df, sigmas=True)  # bool is not an int here


def test_split_assign_drops_null_keys(spark):
    from yandex_tracker_exporter_spark.operators.text_analysis import split_assign

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )
    df = spark.createDataFrame([(1, 10), (None, 20), (2, 30)], schema)
    out = split_assign(df, "doc_id").collect()
    assert sorted(r.doc_id for r in out) == [1, 2]


def test_source_gini_immune_to_null_source(spark):
    from yandex_tracker_exporter_spark.operators.text_analysis import source_gini

    schema = StructType(
        [
            StructField("source", StringType(), True),
            StructField("text", StringType(), True),
        ]
    )
    clean_rows = [("s1", "a b c"), ("s2", "a")]
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(
        clean_rows + [(None, "x y"), ("s3", None)], schema
    )
    want = [tuple(r) for r in source_gini(clean).collect()]
    got = [tuple(r) for r in source_gini(dirty).collect()]
    assert got == want


def test_pareto_frontier_drops_unrankable_rows(spark):
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        pareto_frontier,
    )

    schema = StructType(
        [
            StructField("lang", StringType(), True),
            StructField("doc_id", LongType(), True),
            StructField("n_chars", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    clean_rows = [
        ("en", 1, 10, "a b c"),
        ("en", 2, 20, "a b"),  # dominated: more cost, less gain
    ]
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(
        clean_rows + [(None, 3, None, None)], schema
    )
    want = sorted(tuple(r) for r in pareto_frontier(clean).collect())
    got = sorted(tuple(r) for r in pareto_frontier(dirty).collect())
    assert got == want
    assert [r[1] for r in got] == [1]  # only the frontier doc survives


def test_scd2_drops_unanchored_rows(spark):
    from yandex_tracker_exporter_spark.operators.temporal import scd2_intervals

    schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("ts", StringType(), True),
            StructField("event_id", LongType(), True),
            StructField("props", StringType(), True),
        ]
    )
    clean_rows = [
        (1, "2024-01-01 10:00:00", 1, '{"k": 1}'),
        (1, "2024-01-02 10:00:00", 2, '{"k": 2}'),
    ]
    junk_rows = [(None, "2024-01-03 10:00:00", 3, '{"k": 9}'), (1, None, 4, "")]
    clean = spark.createDataFrame(clean_rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    dirty = spark.createDataFrame(clean_rows + junk_rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = sorted(tuple(r) for r in scd2_intervals(clean).collect())
    got = sorted(tuple(r) for r in scd2_intervals(dirty).collect())
    assert got == want


def test_finite_vector_predicate_shapes(spark):
    from yandex_tracker_exporter_spark.operators.similarity import finite_vector

    schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("v", ArrayType(DoubleType()), True),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, []),  # empty passes (forall over empty is true)
            (3, None),
            (4, [NAN]),
            (5, [INF]),
            (6, [-INF]),
            (7, [1.0, None]),
        ],
        schema,
    )
    kept = sorted(
        r.vec_id for r in df.where(finite_vector(F.col("v"))).collect()
    )
    assert kept == [1, 2]
    assert math.isfinite(1.0)  # keep math import honest


def test_usable_vec_oracle_twin_tests_the_folded_norm(spark, tmp_path):
    """ADVICE r10 (medium): the DuckDB twin of the similarity
    quarantine must test the SAME folded sum-of-squares the engine
    folds, not a per-element finite+any-nonzero proxy. On a DOUBLE[]
    corpus, finite elements can still fold to an unusable norm —
    ``[1e200]*64`` overflows the sum to Inf and ``[5e-324]*64``
    underflows every square to exactly 0.0 — and with fewer than k
    usable neighbors the proxy admits a NaN/Inf-scored junk neighbor
    into the oracle's top-k that the engine never produces. (On the
    contract's FLOAT32 embeddings this is unreachable: max float32
    square is ~1.2e77, 64 of them cannot overflow a double, and the
    smallest nonzero float32 squares to ~2e-90 > 0 — the pin therefore
    uses DOUBLE[] storage, where the operators are equally supported.)
    """
    import duckdb

    import __spark_entry__ as entry

    dim = 64
    rows = [
        (0, [1.0] + [0.0] * (dim - 1), 0),  # the query vector
        (1, [1.0] * dim, 1),
        (2, [0.5] * dim, 1),
        (3, [0.0, 1.0] + [0.0] * (dim - 2), 2),
        # finite elements, sum of squares overflows a double -> Inf norm
        (90001, [1e200] * dim, 3),
        # nonzero elements, every double square underflows to exactly 0.0
        (90002, [5e-324] * dim, 3),
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("embedding", ArrayType(DoubleType()), True),
            StructField("label", LongType(), True),
        ]
    )
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{sf_dir}/embeddings.parquet"
    )

    got = sorted(
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine_sim, 9))
        for r in entry.queries()["cosine_topk"](spark, sf_dir).collect()
    )
    # engine: junk never appears — Inf/zero norms are quarantined
    assert got and all(n not in (90001, 90002) for _, n, _, _ in got)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    sql = entry.oracle_sql()["cosine_topk"]
    want = sorted(
        (q, n, rk, round(c, 9))
        for q, n, c, rk in con.execute(sql).fetchall()
    )
    assert got == want  # the norm-fold twin reproduces the engine

    # and the OLD element-wise proxy demonstrably diverges here: it
    # keeps both junk vectors, whose NaN-scored pairs outrank real ones
    old_proxy = (
        "(embedding IS NOT NULL AND NOT coalesce(list_contains("
        "list_transform(embedding, x -> (x IS NULL OR isnan(x::DOUBLE) "
        "OR isinf(x::DOUBLE))), true), false) AND len(embedding) = 64 "
        "AND list_contains(list_transform(embedding, x -> "
        "x::DOUBLE != 0), true))"
    )
    new_pred = entry._dd_usable_vec()
    assert new_pred in sql
    old_rows = con.execute(sql.replace(new_pred, old_proxy)).fetchall()
    assert any(n in (90001, 90002) for _, n, _, _ in old_rows)


def test_sql_twins_bitexact_vs_column_path(spark):
    """r12 construction fast paths: dot/norm/cosine/lsh_bucket_key/
    zorder_key accept SQL-snippet strings and build ONE F.expr instead
    of hundreds of py4j Column calls. The two paths must produce
    BIT-identical values on every shape — normal, zero, empty, NULL,
    NULL-element, NaN/Inf, ragged, overflow/underflow squares — since
    the whole oracle contract rides on the fold semantics."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from yandex_tracker_exporter_spark.operators.partitioning import (
        zorder_key,
    )
    from yandex_tracker_exporter_spark.operators.similarity import (
        cosine,
        dot,
        lsh_bucket_key,
        norm,
    )

    dim = 8
    rows = [
        (1, [float(i) - 3.5 for i in range(dim)], [1.0] * dim, 7, 11),
        (2, [0.0] * dim, [2.0] * dim, 0, 0),
        (3, [], [], 65535, 65536),
        (4, None, [1.0] * dim, -5, -7),
        (5, [1.0, None] + [0.5] * (dim - 2), [1.0] * dim, 123456789, 42),
        (6, [float("nan")] * dim, [1.0] * dim, 1, 2),
        (7, [float("inf"), 1.0] + [0.0] * (dim - 2), [1.0] * dim, 3, 4),
        (8, [1.0] * 3, [1.0] * dim, 5, 6),  # ragged pair
        (9, [1e200] * dim, [1e-200] * dim, 8, 9),  # overflow/underflow
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("a", ArrayType(DoubleType()), True),
            StructField("b", ArrayType(DoubleType()), True),
            StructField("x", LongType(), True),
            StructField("y", LongType(), True),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    out = df.select(
        dot("a", "b").alias("dot_s"),
        dot(F.col("a"), F.col("b")).alias("dot_c"),
        norm("a").alias("norm_s"),
        norm(F.col("a")).alias("norm_c"),
        cosine("a", "b").alias("cos_s"),
        cosine(F.col("a"), F.col("b")).alias("cos_c"),
        lsh_bucket_key("a", num_planes=8, dim=dim).alias("lsh_s"),
        lsh_bucket_key(F.col("a"), num_planes=8, dim=dim).alias("lsh_c"),
        zorder_key("x", "y", bits=16).alias("z_s"),
        zorder_key(F.col("x"), F.col("y"), bits=16).alias("z_c"),
    ).collect()
    import struct

    def bits(v):
        if v is None:
            return None
        if isinstance(v, float):
            return struct.pack("<d", v)
        return v

    for r in out:
        assert bits(r.dot_s) == bits(r.dot_c), r
        assert bits(r.norm_s) == bits(r.norm_c), r
        assert bits(r.cos_s) == bits(r.cos_c), r
        assert r.lsh_s == r.lsh_c, r
        assert r.z_s == r.z_c, r
