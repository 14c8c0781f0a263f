"""Extended operator coverage: SimHash dedup, interval/temporal join,
map functions, the pandas-UDF surface, multimodal plumbing, and MV
time-travel reads.

SimHash is generated from a shared template into BOTH dialects (Spark
SQL and DuckDB SQL) so the 64 bit-vote aggregates are literally the
same computation; the fingerprints therefore match bit-for-bit and the
oracle can verify banding + Hamming-distance blocking exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflink_spark.queries import _t, register
from tiflink_spark.store import StoreSet

# ---------------------------------------------------------------------------
# SimHash (64-bit, 4 bands x 16 bits)
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _bit_expr(i: int, dialect: str) -> str:
    """Bit i (MSB-first) of md5(word), as a dialect SQL expression."""
    pos = 1 + i // 4  # 1-indexed hex digit
    j = 3 - (i % 4)  # bit within the hex digit
    nibble = f"(instr('{_HEX}', substr(h, {pos}, 1)) - 1)"
    if dialect == "spark":
        return f"(shiftright({nibble}, {j}) & 1)"
    return f"(({nibble} >> {j}) & 1)"


def _simhash_sql(dialect: str) -> str:
    """Fingerprint query: doc_id, b0..b3 (16-bit band ints).

    Spark side parses the md5's first 16 hex chars into two 32-bit
    words ONCE per row, so each of the 64 bit-votes is a shift+mask on
    a long instead of a substr+instr string probe (64 string ops per
    word-row -> 2 conv calls; the vote stage stays one codegen'd
    HashAggregate). Bit numbering is unchanged (MSB-first over the hex
    string), so fingerprints remain bit-identical to the DuckDB oracle
    — pinned by the dedup_simhash_fingerprint gate."""
    if dialect == "spark":
        words = (
            "SELECT DISTINCT doc_id, word FROM documents "
            "LATERAL VIEW explode(split(lower(trim(text)), '\\\\s+')) t AS word"
        )
        md5 = "md5(cast(word AS binary))"
        shl = "shiftleft({x}, {n})"
        hashed = (
            "hashed0 AS (SELECT doc_id, md5(cast(word AS binary)) AS h FROM words),\n"
            "    hashed AS (SELECT doc_id,\n"
            "        cast(conv(substr(h, 1, 8), 16, 10) AS bigint) AS w0,\n"
            "        cast(conv(substr(h, 9, 8), 16, 10) AS bigint) AS w1\n"
            "        FROM hashed0)"
        )

        def bit(i: int) -> str:
            return f"(shiftright(w{i // 32}, {31 - (i % 32)}) & 1)"

    else:
        words = (
            "SELECT DISTINCT doc_id, "
            "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word "
            "FROM documents"
        )
        md5 = "md5(word)"
        shl = "({x} << {n})"
        hashed = f"hashed AS (SELECT doc_id, {md5} AS h FROM words)"

        def bit(i: int) -> str:
            return _bit_expr(i, dialect)

    votes = ",\n        ".join(
        f"sum(CASE WHEN {bit(i)} = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(64)
    )
    bands = ",\n       ".join(
        "("
        + " + ".join(
            shl.format(x=f"(CASE WHEN v{k * 16 + p} >= 0 THEN 1 ELSE 0 END)", n=p)
            for p in range(16)
        )
        + f") AS b{k}"
        for k in range(4)
    )
    return f"""
    WITH words AS ({words}),
    {hashed},
    votes AS (
        SELECT doc_id,
        {votes}
        FROM hashed GROUP BY doc_id)
    SELECT doc_id,
       {bands}
    FROM votes
    """


@register(
    "dedup_simhash_fingerprint",
    _simhash_sql("duck"),
    doc=(
        "64-bit SimHash fingerprint per document (bit-votes over md5(word) "
        "bits, 4x16-bit bands for Hamming blocking). Generated from one "
        "template into both engines, so fingerprints match bit-for-bit."
    ),
    tags=("llm", "dedup", "simhash"),
)
def dedup_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_fp_df(spark, sf_dir)


def _simhash_fp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark-dialect fingerprint query, with the documents scan
    fanned out when the file layout pins it to too few cores (guide
    §2.5 — the explode+md5 pipeline above a single-row-group parquet
    otherwise runs one task; same gate as minhash's _scan_fanout, a
    pure footer read at real scale). The SQL template is unchanged, so
    fingerprints stay bit-identical to the DuckDB oracle."""
    import os as _os

    from tiflink_spark.queries_llm import _scan_fanout

    t = _t(spark, sf_dir)
    sql = _simhash_sql("spark")
    fan = _scan_fanout(spark, _os.path.join(sf_dir, "documents.parquet"))
    if fan:
        t["documents"].repartition(fan).createOrReplaceTempView(
            "__documents_fanned"
        )
        sql = sql.replace("FROM documents", "FROM __documents_fanned")
    return spark.sql(sql)


def _pop16_table():
    """Popcount of every 16-bit value as a uint8 numpy array — the
    lookup table the neardup pair expansion uses for hamming weights on
    large band buckets (equivalence with the arithmetic popcount path
    is unit-pinned)."""
    import numpy as np

    return (
        np.unpackbits(np.arange(65536, dtype=">u2").view(np.uint8))
        .reshape(65536, 16)
        .sum(1)
        .astype(np.uint8)
    )


def _simhash_pairs_sql(dialect: str) -> str:
    """DuckDB dialect only: the OR-of-band-equalities join is fine for the
    oracle at sf0.01 (DuckDB handles it), and its semantics define the
    expected result. The Spark side uses the scale shape instead — see
    dedup_simhash_neardup: explode to (band, value) rows and EQUI-join,
    because an OR join condition has no equi-key and Catalyst would fall
    back to a nested-loop (all-pairs) plan."""
    fp = _simhash_sql(dialect)
    ham = " + ".join(f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(4))
    band_match = " OR ".join(f"a.b{k} = b.b{k}" for k in range(4))
    return f"""
    WITH fp AS ({fp})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({ham} AS BIGINT) AS hamming
    FROM fp a JOIN fp b
      ON a.doc_id < b.doc_id AND ({band_match})
    WHERE {ham} <= 3
    """


@register(
    "dedup_simhash_neardup",
    _simhash_pairs_sql("duck"),
    doc=(
        "SimHash near-dup pairs: band-equality blocking (a Hamming-<=3 pair "
        "must share at least one of 4 bands — pigeonhole), exact Hamming "
        "verify on candidates only. The standard web-dedup design; at scale "
        "the band join is a bucket join, never all-pairs."
    ),
    tags=("llm", "dedup", "simhash"),
)
def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    # Scale shape: band-value EQUI-bucketing semantics, never the
    # OR-of-equalities form that plans as a nested loop over all pairs.
    # The fingerprint subtree (64 bit-vote aggregates) is referenced
    # ONCE; band buckets are hash-clustered + sorted JVM-side and ONE
    # mapInPandas pass expands each bucket's a<b pairs as a numpy
    # XOR+popcount (guide §4.2) — measured 1.4s of the query's 2.3s
    # went to the previous interpreted HOF struct expansion (~1.9M
    # candidate structs at sf0.1, one hot 1473-doc bucket). Pairs only
    # (a handful of rows) cross back to the JVM. The oracle's DISTINCT
    # across bands is realized shuffle-free: each pair is emitted only
    # from its FIRST matching band (every row carries all 4 band
    # values), so the global distinct exchange (0.46s) disappears;
    # hamming is a function of the pair, so the row set is identical.
    fp = _simhash_fp_df(spark, sf_dir)
    bands = fp.selectExpr(
        "doc_id", "b0", "b1", "b2", "b3",
        "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, val)",
    )
    # bounded partition count: the band rows are 4x the doc count (tiny
    # relative to the pair work), and every shuffle partition pays a
    # Python-worker task roundtrip — 200 default partitions cost ~1s of
    # near-empty task overhead for ~20k rows at sf0.1
    par = spark.sparkContext.defaultParallelism
    clustered = bands.repartition(par, "band", "val").sortWithinPartitions(
        "band", "val", "doc_id"
    )

    def _popcnt16(x):
        x = x - ((x >> 1) & 0x5555)
        x = (x & 0x3333) + ((x >> 2) & 0x3333)
        x = (x + (x >> 4)) & 0x0F0F
        return (x + (x >> 8)) & 0x1F

    # 16-bit popcount lookup table, built once per Python worker (~3 ms
    # vectorized). For a hot bucket (n=1473 -> 1.08M pairs at sf0.1) the
    # uint16-gather + table path measured 0.037s vs 0.53s for int64
    # gathers + arithmetic popcount (the int64 fancy-indexing alone was
    # 0.25s — 4x the memory traffic of uint16); tiny buckets keep the
    # arithmetic path, which has no table-gather fixed cost.
    _POP16 = _pop16_table()

    def pairs(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            return
        # bucket boundaries in the clustered order (val < 2^16, band < 4)
        key = pdf["band"].to_numpy(dtype=np.int64) * 65536 + pdf["val"].to_numpy(
            dtype=np.int64
        )
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        bounds = np.append(starts, len(pdf))
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        band = pdf["band"].to_numpy(dtype=np.int64)
        b = [pdf[f"b{k}"].to_numpy(dtype=np.int64) for k in range(4)]
        b16 = [a.astype(np.uint16) for a in b]
        out_a, out_b, out_h = [], [], []
        for s, e in zip(bounds[:-1], bounds[1:]):
            n = e - s
            if n < 2:
                continue
            i, j = np.triu_indices(n, 1)
            if n >= 256:
                xors = [b16[k][s:e][i] ^ b16[k][s:e][j] for k in range(4)]
                ham = _POP16[xors[0]].astype(np.int64)
                for k in range(1, 4):
                    ham += _POP16[xors[k]]
            else:
                xors = [b[k][s:e][i] ^ b[k][s:e][j] for k in range(4)]
                ham = np.zeros(len(i), dtype=np.int64)
                for k in range(4):
                    ham += _popcnt16(xors[k])
            keep = ham <= 3
            # emit a pair only from its FIRST matching band — the
            # replacement for a global DISTINCT across bands (a pair in
            # band k's bucket whose fingerprints already agree on an
            # earlier band m < k is band m's to emit)
            for m in range(int(band[s])):
                keep &= xors[m] != 0
            if keep.any():
                gi = ids[s:e]  # sorted ascending -> doc_a < doc_b
                out_a.append(gi[i[keep]])
                out_b.append(gi[j[keep]])
                out_h.append(ham[keep])
        if out_a:
            yield pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a),
                    "doc_b": np.concatenate(out_b),
                    "hamming": np.concatenate(out_h),
                }
            )

    return clustered.mapInPandas(
        pairs, schema="doc_a long, doc_b long, hamming long"
    )


@register(
    "stats_aggs",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_quantity), 4)         AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6)      AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregates: STDDEV/VARIANCE/CORR/COVAR (skewness omitted: Spark uses the population estimator, DuckDB the bias-corrected sample one).",
    tags=("agg", "stats"),
)
def stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qty_price"),
    )


@register(
    "window_first_last_ntile",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey
                                        ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND UNBOUNDED FOLLOWING) AS last_ok,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    """,
    doc="FIRST_VALUE / LAST_VALUE (full-frame) / NTILE window functions.",
    tags=("window",),
)
def window_first_last_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    order = [F.col("o_orderdate").cast("date"), F.col("o_orderkey")]
    w = Window.partitionBy("o_custkey").orderBy(*order)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(wfull).alias("last_ok"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "percentile_exact",
    """
    SELECT o_orderstatus,
           CAST(round(CAST(quantile_cont(o_totalprice, 0.5) AS DECIMAL(22,4)), 2)
                AS DOUBLE) AS p50,
           CAST(round(CAST(quantile_cont(o_totalprice, 0.95) AS DECIMAL(22,4)), 2)
                AS DOUBLE) AS p95
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc=(
        "Exact percentiles via Spark's percentile() aggregate (exact "
        "interpolated form, matches DuckDB quantile_cont)."
    ),
    tags=("agg", "stats"),
)
def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    # DECIMAL-domain rounding: interpolated quantiles of 2-decimal
    # prices land on exact 4-decimal values whose doubles sit a hair
    # off the .xx5 midpoint, and Spark/DuckDB round them to different
    # cents (see approx_percentile_bounded).
    return t["orders"].groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)).cast("decimal(22,4)"), 2)
        .cast("double")
        .alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)).cast("decimal(22,4)"), 2)
        .cast("double")
        .alias("p95"),
    )


# ---------------------------------------------------------------------------
# Interval / temporal join
# ---------------------------------------------------------------------------


@register(
    "interval_join_events",
    """
    SELECT e.event_id, count(c.event_id) AS n_recent_clicks
    FROM events e LEFT JOIN events c
      ON e.user_id = c.user_id
     AND c.event_type = 'click'
     AND CAST(c.ts AS TIMESTAMP) > CAST(e.ts AS TIMESTAMP) - INTERVAL 5 minutes
     AND CAST(c.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP)
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
    doc=(
        "Interval (temporal range) join: for each error event, clicks by the "
        "same user in the preceding 5 minutes. Equi key (user_id) carries the "
        "shuffle; the range condition filters within the key group — the "
        "Flink interval-join shape (SURVEY §2.2) in batch form."
    ),
    tags=("join", "interval", "event-time"),
)
def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    e = t["events"].filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), F.col("user_id").alias("e_uid"), F.col("ts").alias("e_ts")
    )
    c = t["events"].filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")
    )
    cond = (
        (F.col("e_uid") == F.col("c_uid"))
        & (F.col("c_ts") > F.col("e_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") <= F.col("e_ts"))
    )
    return (
        e.join(c, cond, "left")
        .groupBy(F.col("e_id").alias("event_id"))
        .agg(F.count("c_id").alias("n_recent_clicks"))
    )


@register(
    "agg_max_by",
    """
    SELECT o_orderpriority,
           max_by(o_orderkey, o_totalprice * 1e8 - o_orderkey) AS best_order,
           max(o_totalprice) AS best_price,
           min_by(o_orderkey, o_totalprice * 1e8 + o_orderkey) AS worst_order
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc=(
        "MAX_BY / MIN_BY argmax aggregates. Tie-break folded into one double "
        "ordering key (price*1e8 ∓ orderkey): the orderkey term exceeds the "
        "multiply's rounding error, and both engines compute the identical "
        "IEEE value, so the argmax is deterministic and mirrored."
    ),
    tags=("agg",),
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    best_key = F.col("o_totalprice") * 1e8 - F.col("o_orderkey")
    worst_key = F.col("o_totalprice") * 1e8 + F.col("o_orderkey")
    return t["orders"].groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", best_key).alias("best_order"),
        F.max("o_totalprice").alias("best_price"),
        F.min_by("o_orderkey", worst_key).alias("worst_order"),
    )


@register(
    "array_ops",
    """
    SELECT n_nationkey,
           array_to_string(list_sort(list_intersect([0,1,2,3,4], [n_regionkey, 2, 4])), ',') AS common,
           array_to_string(list_sort(list_distinct([0,1,2,3,4] || [n_regionkey])), ',')      AS merged,
           array_to_string(flatten([[n_nationkey], [n_regionkey, n_regionkey]]), ',')        AS flat,
           array_to_string(range(0, n_regionkey + 1), ',')                                   AS seq,
           list_contains([1, 3], n_regionkey)                                AS in_13,
           array_to_string(list_transform([1, 2, 3], x -> x * n_regionkey), ',') AS scaled
    FROM nation
    """,
    doc=(
        "Array battery beyond the basics: intersect/union-distinct/flatten/"
        "sequence/contains/transform (reference plumbing: TypeUtils.java:329-340). "
        "Array outputs are serialized via array_join so the driver's value "
        "canonicalizer (pandas sort on raw cells) can hash them."
    ),
    tags=("scalar", "array"),
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    base = F.array(*[F.lit(i) for i in range(5)])
    def _join(arr):
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), ",")

    return t["nation"].select(
        "n_nationkey",
        _join(
            F.array_sort(
                F.array_intersect(base, F.array(F.col("n_regionkey"), F.lit(2), F.lit(4)))
            )
        ).alias("common"),
        _join(F.array_sort(F.array_union(base, F.array(F.col("n_regionkey"))))).alias("merged"),
        _join(
            F.flatten(
                F.array(
                    F.array(F.col("n_nationkey")),
                    F.array(F.col("n_regionkey"), F.col("n_regionkey")),
                )
            )
        ).alias("flat"),
        _join(F.sequence(F.lit(0), F.col("n_regionkey"))).alias("seq"),
        F.array_contains(F.array(F.lit(1), F.lit(3)), F.col("n_regionkey")).alias("in_13"),
        F.array_join(
            F.transform(F.array(F.lit(1), F.lit(2), F.lit(3)), lambda x: x * F.col("n_regionkey")),
            ",",
        ).alias("scaled"),
    )


@register(
    "string_funcs_ext",
    """
    SELECT c_custkey,
           levenshtein(c_name, c_mktsegment)            AS lev_dist,
           split_part(c_name, '0', 1)                   AS first_part,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0')     AS padded,
           reverse(c_mktsegment)                        AS rev_seg,
           translate(c_mktsegment, 'AEIOU', 'aeiou')    AS xlat,
           left(c_name, 4)                              AS l4,
           right(c_name, 3)                             AS r3,
           repeat('ab', c_custkey % 3)                  AS reps
    FROM customer
    """,
    doc="Extended string battery: LEVENSHTEIN/SPLIT_PART/LPAD/REVERSE/TRANSLATE/LEFT/RIGHT/REPEAT.",
    tags=("scalar", "string"),
)
def string_funcs_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    c = t["customer"]
    return c.select(
        "c_custkey",
        F.levenshtein("c_name", "c_mktsegment").alias("lev_dist"),
        F.split_part(F.col("c_name"), F.lit("0"), F.lit(1)).alias("first_part"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.reverse(F.col("c_mktsegment")).alias("rev_seg"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("xlat"),
        F.substring("c_name", 1, 4).alias("l4"),
        F.col("c_name").substr(F.length("c_name") - 2, F.lit(3)).alias("r3"),
        F.repeat(F.lit("ab"), (F.col("c_custkey") % 3).cast("int")).alias("reps"),
    )


@register(
    "agg_string_concat",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
    doc=(
        "String aggregation (LISTAGG/STRING_AGG): deterministic via sorted "
        "order — Spark form is array_join(array_sort(collect_list()))."
    ),
    tags=("agg", "string"),
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["nation"].groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@register(
    "window_pct_rank",
    """
    SELECT o_orderkey,
           round(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
           round(cume_dist()    OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cume
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    doc="PERCENT_RANK / CUME_DIST ranking windows (global order, filtered input).",
    tags=("window",),
)
def window_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        t["orders"]
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
    )


@register(
    "histogram_prices",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
    doc="Fixed-width histogram (the profiling companion: distribution in one shuffle).",
    tags=("agg", "dataops", "profile"),
)
def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "pivot_status",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Relational PIVOT (df.groupBy().pivot().count() with explicit value list).",
    tags=("agg", "pivot"),
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    out = (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


@register(
    "asof_last_click",
    """
    SELECT event_id,
           last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
    FROM events
    QUALIFY event_type = 'error'
    """,
    doc=(
        "AS-OF (point-in-time) join: for each error event, the most recent "
        "prior click by the same user — the sorted-merge form (partition by "
        "key, order by time, last_value IGNORE NULLS over the preceding "
        "frame), which is how an as-of join stays a single shuffle at scale."
    ),
    tags=("join", "asof", "event-time"),
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        t["events"]
        .select(
            "event_id",
            "event_type",
            F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
        )
        .filter(F.col("event_type") == "error")
        .drop("event_type")
    )


# ---------------------------------------------------------------------------
# Map functions
# ---------------------------------------------------------------------------


@register(
    "map_funcs",
    """
    SELECT event_id,
           2 AS n_keys,
           'etype,uid' AS keys_sorted,
           event_type AS etype_val,
           CAST(user_id AS VARCHAR) AS uid_val,
           (user_id % 2 = 0) AS has_even_uid
    FROM events
    """,
    doc=(
        "Map functions (reference plumbing exists but TiDB can't produce "
        "maps, TypeUtils.java:329-340): build map<string,string>, then "
        "size / sorted keys / element_at / exists over values. Oracle checks "
        "the computed values (DuckDB map ops differ in shape)."
    ),
    tags=("scalar", "map"),
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    m = F.create_map(
        F.lit("etype"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    # exists() over map_values is always true here by construction; ANDing it
    # with the parity test keeps the oracle trivial while exercising the op.
    has_even = F.exists(
        F.map_values(m), lambda v: v == F.col("user_id").cast("string")
    ) & (F.col("user_id") % 2 == 0)
    return t["events"].select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(m, "etype").alias("etype_val"),
        F.element_at(m, "uid").alias("uid_val"),
        has_even.alias("has_even_uid"),
    )


# ---------------------------------------------------------------------------
# Pandas-UDF surface + multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "pandas_udf_tokens",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
    doc=(
        "The engine's UDF surface: Arrow-batched pandas UDFs "
        "(functions.token_count / normalize_text) — never row-at-a-time "
        "Python. Oracle mirrors the regex semantics in SQL."
    ),
    tags=("udf", "llm"),
)
def pandas_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.functions import normalize_text, token_count

    t = _t(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        normalize_text(F.col("text")).alias("norm_text"),
    )


@register(
    "multimodal_decode",
    """
    SELECT doc_id AS id,
           'image' AS kind,
           CAST(64 + octet_length(encode(text)) % 577 AS INTEGER) AS width,
           CAST(64 + octet_length(encode(text)) % 421 AS INTEGER) AS height,
           CAST(1 + octet_length(encode(text)) % 3 AS INTEGER) AS n_channels,
           md5(text) AS checksum
    FROM documents
    """,
    doc=(
        "Multimodal column plumbing: binary media column -> Arrow-batched "
        "mapInPandas decode -> typed metadata. The decoder is the documented "
        "deterministic stand-in (multimodal.fake_decode_meta; real decode "
        "needs PIL, stubbed behind NotImplementedError) so the full Spark "
        "pipeline — schema, batching, UDF signature — runs for real and the "
        "oracle mirrors it byte-exactly."
    ),
    tags=("llm", "multimodal"),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.multimodal import decode_media

    t = _t(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").alias("id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("data"),
    )
    return decode_media(media)


_RESIZE_W = _RESIZE_H = 224


@register(
    "multimodal_resize",
    f"""
    WITH m AS (SELECT doc_id AS id,
                      CAST(64 + octet_length(encode(text)) % 577 AS INTEGER) AS width,
                      CAST(64 + octet_length(encode(text)) % 421 AS INTEGER) AS height,
                      md5(text) AS src_sum
               FROM documents)
    SELECT id, width, height,
           {_RESIZE_W} AS target_w, {_RESIZE_H} AS target_h,
           CAST(least((10000 * {_RESIZE_W}) // width,
                      (10000 * {_RESIZE_H}) // height) AS INTEGER) AS scale_pm,
           md5(src_sum || 'x{_RESIZE_W}x{_RESIZE_H}') AS checksum
    FROM m
    """,
    doc=(
        "Multimodal resize stage: binary media -> aspect-preserving scale + "
        "resized checksum through Arrow-batched mapInPandas "
        "(multimodal.resize_media). Real resize needs PIL (stubbed behind "
        "NotImplementedError); the deterministic stand-in keeps the scale in "
        "integer permyriad so the oracle mirrors it with exact integer "
        "division — no cross-engine float rounding."
    ),
    tags=("llm", "multimodal"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.multimodal import resize_media

    t = _t(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("data")
    )
    return resize_media(media, _RESIZE_W, _RESIZE_H)


@register(
    "multimodal_feature_extract",
    (
        "SELECT doc_id AS id,\n"
        + ",\n".join(
            f"       CAST(octet_length(encode(text)) % {p} AS INTEGER) AS f{i}"
            for i, p in enumerate((257, 263, 269, 271, 277, 281, 283, 293))
        )
        + "\nFROM documents"
    ),
    doc=(
        "Multimodal feature-extraction stage: binary media -> fixed-width "
        "feature columns via Arrow-batched mapInPandas "
        "(multimodal.extract_features) — the plumbing that feeds decoded "
        "media into the embedding/ANN operators. Integer features (byte-"
        "length residues) keep the cross-engine compare exact; the real "
        "stage swaps in a media encoder via the extractor= override."
    ),
    tags=("llm", "multimodal"),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.multimodal import extract_features

    t = _t(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("data")
    )
    return extract_features(media)


@register(
    "pandas_udaf_median",
    """
    SELECT o_orderpriority,
           CAST(round(CAST(median(o_totalprice) AS DECIMAL(22,4)), 2)
                AS DOUBLE) AS median_price,
           CAST(round(CAST(quantile_cont(o_totalprice, 0.9) AS DECIMAL(22,4)), 2)
                AS DOUBLE) AS p90_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc=(
        "UDAF surface: grouped-aggregate pandas UDFs (Arrow batch per group) "
        "computing exact median / p90 — aggregates Spark has no built-in "
        "exact form for. numpy linear-interpolation quantiles match DuckDB's "
        "quantile_cont."
    ),
    tags=("udf", "udaf", "agg"),
)
def pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.functions import median_udaf, p90_udaf

    t = _t(spark, sf_dir)
    # DECIMAL-domain rounding — same .xx5 cross-engine hazard as
    # percentile_exact / approx_percentile_bounded.
    return t["orders"].groupBy("o_orderpriority").agg(
        F.round(median_udaf("o_totalprice").cast("decimal(22,4)"), 2)
        .cast("double")
        .alias("median_price"),
        F.round(p90_udaf("o_totalprice").cast("decimal(22,4)"), 2)
        .cast("double")
        .alias("p90_price"),
    )


@register(
    "udtf_split_words",
    r"""
    SELECT doc_id, i AS word_idx, ws[i + 1] AS word
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents),
         UNNEST(range(least(5, len(ws)))) AS t(i)
    """,
    doc=(
        "UDTF surface: a real Python UDTF (pyspark @udtf, lateral join) "
        "exploding each document into its first 5 words with positions. The "
        "reference exposes Flink's UDTF surface by delegation "
        "(TiFlinkCatalog.java:286-300 registers none of its own)."
    ),
    tags=("udf", "udtf"),
)
def udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, word_idx: bigint, word: string")
    class SplitFirstWords:
        def eval(self, doc_id: int, text: str):
            for i, w in enumerate(text.strip().split()[:5]):
                yield doc_id, i, w

    spark.udtf.register("split_first_words", SplitFirstWords)
    _t(spark, sf_dir)
    return spark.sql(
        """
        SELECT f.doc_id, f.word_idx, f.word
        FROM documents s, LATERAL split_first_words(s.doc_id, s.text) f
        """
    )


# ---------------------------------------------------------------------------
# MV time travel (stale snapshot reads)
# ---------------------------------------------------------------------------


@register(
    "mv_time_travel",
    """
    WITH orders_v1 AS (
        SELECT o_orderkey, o_custkey FROM orders
        UNION ALL
        SELECT o_orderkey + 20000000, o_custkey FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT c_custkey, c_name,
           (SELECT count(*) FROM orders_v1 o WHERE o.o_custkey = c.c_custkey) AS order_cnt
    FROM customer c
    """,
    doc=(
        "Stale-snapshot read (the reference's 'Stale Snapshot Isolation' "
        "contract, README.md:18-22): after 3 maintenance batches, read the "
        "MV AS OF the version committed by batch 1 — i.e. inserts applied, "
        "later deletes/updates invisible. Versioned store time travel."
    ),
    tags=("mv", "time-travel"),
)
def mv_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from tiflink_spark.incremental import Measure
    from tiflink_spark.mv import IncrementalAggMV
    from tiflink_spark.queries_mv import scripted_batches

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mv_tt_")
    try:
        mv = IncrementalAggMV(
            spark,
            fact=t["orders"],
            fact_pk=["o_orderkey"],
            group_key="o_custkey",
            measures=[Measure("count", None, "order_cnt")],
            stores=StoreSet(spark, work, 4),
            dim=t["customer"],
            dim_key="c_custkey",
            dim_cols=["c_name"],
            shuffle_partitions=8,
        )
        mv.bootstrap()
        for i, b in enumerate(scripted_batches(t["orders"]), start=1):
            mv.refresh(b, batch_id=i)
        # versions: 0 = bootstrap, 1 = after batch 1, ... — read v1.
        return mv.read(version=1).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Connector format coverage: CSV / JSON round-trips through the registry
# ---------------------------------------------------------------------------


@register(
    "connector_csv_roundtrip",
    """
    SELECT n_regionkey, count(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
    doc=(
        "CSV connector round-trip: nation written as headered CSV via the "
        "connector registry, read back with a DECLARED schema (inference "
        "is an extra full pass — not the 100 TB path), aggregated. "
        "Connector factory parity: TikvDynamicTableFactory.java:13-58."
    ),
    tags=("connector", "csv"),
)
def connector_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from tiflink_spark.connectors import ConnectorOptions, get_connector

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="conn_csv_")
    try:
        conn = get_connector("csv")
        nation = t["nation"]
        conn.write(nation, ConnectorOptions(path=work))
        back = conn.read(
            spark, ConnectorOptions(path=work, extra={"schema": nation.schema})
        )
        return (
            back.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n_nations"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "connector_json_roundtrip",
    """
    SELECT r_regionkey, r_name FROM region
    """,
    doc="JSON-lines connector round-trip through the registry, declared schema.",
    tags=("connector", "json"),
)
def connector_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from tiflink_spark.connectors import ConnectorOptions, get_connector

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="conn_json_")
    try:
        conn = get_connector("json")
        region = t["region"]
        conn.write(region, ConnectorOptions(path=work))
        back = conn.read(
            spark, ConnectorOptions(path=work, extra={"schema": region.schema})
        )
        return back.select("r_regionkey", "r_name").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "unpivot_measures",
    """
    SELECT measure, round(sum(value), 2) AS total
    FROM (
        SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT 'tax', l_tax FROM lineitem)
    GROUP BY measure
    """,
    doc=(
        "UNPIVOT (wide -> long): melt three measure columns into "
        "(measure, value) rows with DataFrame.unpivot, then aggregate. "
        "One scan — the UNION-ALL oracle form would scan three times."
    ),
    tags=("reshape",),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    long = t["lineitem"].unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    name = (
        F.when(F.col("measure") == "l_quantity", "quantity")
        .when(F.col("measure") == "l_extendedprice", "extendedprice")
        .otherwise("tax")
    )
    return (
        long.select(name.alias("measure"), "value")
        .groupBy("measure")
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )


@register(
    "regex_funcs",
    """
    SELECT doc_id,
           regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
           length(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len,
           CASE WHEN regexp_matches(text, 'data') THEN 1 ELSE 0 END AS has_data
    FROM documents
    """,
    doc="Regexp scalar battery: extract / global replace / match-test.",
    tags=("scalar", "regex"),
)
def regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        F.regexp_extract("text", r"([A-Za-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace("text", r"[aeiou]", "")).alias("novowel_len"),
        F.col("text").rlike("data").cast("int").alias("has_data"),
    )


@register(
    "lateral_topn_per_group",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2) o
    """,
    doc=(
        "LATERAL correlated subquery: top-2 orders per customer. Spark "
        "supports LATERAL joins natively (3.2+); same rows as the window "
        "row_number<=2 form, expressed in the SQL shape users port from "
        "other engines."
    ),
    tags=("join", "lateral", "topk"),
)
def lateral_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2) o
        """
    )


@register(
    "range_join_price_bands",
    """
    WITH bands AS (
        SELECT 0 AS band_id, 0.0 AS lo, 20000.0 AS hi
        UNION ALL SELECT 1, 20000.0, 40000.0
        UNION ALL SELECT 2, 40000.0, 60000.0
        UNION ALL SELECT 3, 60000.0, 1e9)
    SELECT band_id, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_id
    """,
    doc=(
        "Range (band) join: fact rows joined into value intervals. The "
        "band side is tiny and broadcast, so the non-equi condition is a "
        "broadcast nested-loop over N x 4 — the right plan when one side "
        "is bounded; an unbounded-both-sides range join would need the "
        "bucketed interval decomposition instead (interval_join_events)."
    ),
    tags=("join", "range"),
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    bands = spark.createDataFrame(
        [(0, 0.0, 20000.0), (1, 20000.0, 40000.0), (2, 40000.0, 60000.0), (3, 60000.0, 1e9)],
        "band_id int, lo double, hi double",
    )
    return (
        t["orders"]
        .join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "rollup_time_grains",
    """
    SELECT grain, bucket, count(*) AS n_events, round(sum(value), 2) AS total
    FROM (
        SELECT 'hour' AS grain,
               CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS bucket,
               value FROM events
        UNION ALL
        SELECT 'day', CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP), value
        FROM events)
    GROUP BY grain, bucket
    """,
    doc=(
        "Hypertable-style multi-grain rollup: hour and day aggregates of "
        "the event stream in ONE scan via GROUPING SETS over the two "
        "truncations (the UNION-ALL oracle form scans twice)."
    ),
    tags=("agg", "window-time", "rollup"),
)
def rollup_time_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    ev = t["events"].select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        "value",
    )
    ev.createOrReplaceTempView("__ev_grains")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(h) = 0 THEN 'hour' ELSE 'day' END AS grain,
               CASE WHEN grouping(h) = 0 THEN h ELSE d END AS bucket,
               count(*) AS n_events, round(sum(value), 2) AS total
        FROM __ev_grains
        GROUP BY GROUPING SETS ((h), (d))
        """
    )


@register(
    "salted_join_skew",
    """
    SELECT n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc=(
        "Skew-safe salted join (bucketing.salted_join): the fact side is "
        "scattered across 8 salt replicas of the dim side, so one hot key "
        "cannot pin a single reducer — the manual fallback for skew beyond "
        "what AQE skew-splitting handles. Result identical to the plain "
        "join (oracle is the unsalted SQL)."
    ),
    tags=("join", "skew"),
)
def salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.bucketing import salted_join

    t = _t(spark, sf_dir)
    joined = salted_join(
        t["customer"].select("c_nationkey", "c_acctbal"),
        t["nation"].select("n_nationkey", "n_name").withColumnRenamed(
            "n_nationkey", "c_nationkey"
        ),
        on="c_nationkey",
        n_salts=8,
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "multimodal_framesample",
    """
    SELECT doc_id AS id, CAST(frame_idx AS BIGINT) AS frame_idx
    FROM documents,
         UNNEST(range(0, 1 + octet_length(encode(text)) % 300, 30)) AS t(frame_idx)
    """,
    doc=(
        "Frame-sampling plan for video rows: each media row expands to "
        "(id, frame_idx) rows — every 30th frame of a deterministic "
        "stand-in frame count (real: ffprobe duration x fps) — the fan-out "
        "stage ahead of per-frame decode (multimodal.frame_sample_plan)."
    ),
    tags=("llm", "multimodal"),
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.multimodal import frame_sample_plan

    t = _t(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").alias("id"),
        F.col("text").cast("binary").alias("data"),
    )
    return frame_sample_plan(media, every_n=30).select(
        "id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


@register(
    "keyed_sink_roundtrip",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    """,
    doc=(
        "Exactly-once upsert sink round-trip: customer written through the "
        "keyed-store connector (hash-bucketed, versioned, MERGE-by-PK — the "
        "FlinkTikvProducer.java:39-258 analog) and read back via the "
        "registry. The §2.2 'sink' row as a checkable gate."
    ),
    tags=("connector", "sink", "store"),
)
def keyed_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from tiflink_spark.connectors import ConnectorOptions, get_connector

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="keyed_sink_")
    try:
        conn = get_connector("keyed")
        opts = ConnectorOptions(path=work, pk=["c_custkey"], num_buckets=4)
        conn.write(t["customer"].select("c_custkey", "c_name", "c_acctbal"), opts)
        return conn.read(spark, opts).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "window_range_frame",
    """
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE)
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_with_peers
    FROM orders
    """,
    doc=(
        "RANGE window frame: cumulative sum where same-order-date rows are "
        "PEERS (all included at once) — distinct semantics from the ROWS "
        "frame in window_running_sum when ties exist."
    ),
    tags=("window",),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE)
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_with_peers
        FROM orders
        """
    )


@register(
    "null_semantics",
    """
    SELECT o_orderkey,
           coalesce(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_or_pending,
           CASE WHEN o_orderstatus IS NOT DISTINCT FROM 'F' THEN 1 ELSE 0 END AS nullsafe_f,
           CASE WHEN o_totalprice IS NULL THEN -1 ELSE 1 END AS null_flag
    FROM orders
    """,
    doc="NULL-semantics battery: COALESCE / NULLIF / null-safe equality (<=>).",
    tags=("scalar", "null"),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["orders"].select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_or_pending"
        ),
        F.col("o_orderstatus").eqNullSafe("F").cast("int").alias("nullsafe_f"),
        F.when(F.col("o_totalprice").isNull(), -1).otherwise(1).alias("null_flag"),
    )


@register(
    "cast_funcs",
    """
    SELECT o_orderkey,
           CAST(floor(o_totalprice) AS BIGINT) AS price_int,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
           TRY_CAST(o_orderstatus AS BIGINT) AS bad_cast_null,
           CAST(o_totalprice > 30000 AS INTEGER) AS is_big
    FROM orders
    """,
    doc=(
        "Casting battery: explicit floor before int cast (bare double->int "
        "casts are NOT portable: Spark truncates, DuckDB rounds), string "
        "round-trip, TRY_CAST -> NULL, bool->int."
    ),
    tags=("scalar", "cast"),
)
def cast_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["orders"].select(
        "o_orderkey",
        F.floor("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        # Regex pre-guard: under ANSI, TRY_CAST's failure path throws and
        # catches a JVM exception PER ROW (~9 µs/row — 1.39s of this
        # query's 1.5s at sf0.1, measured). Strings that can't possibly
        # parse short-circuit to NULL; plausible numerics still go
        # through TRY_CAST, so overflow handling is unchanged (verified:
        # identical output on the data and on ' 42 '/'1.5'/19- and
        # 20-digit/signed/NULL edge cases). 0.14s after.
        F.expr(
            "CASE WHEN o_orderstatus RLIKE '^\\\\s*[+-]?[0-9]+\\\\s*$' "
            "THEN TRY_CAST(o_orderstatus AS BIGINT) END"
        ).alias("bad_cast_null"),
        (F.col("o_totalprice") > 30000).cast("int").alias("is_big"),
    )


@register(
    "partition_pruning_roundtrip",
    """
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
    doc=(
        "Hive-style partition pruning: orders written partitionBy("
        "o_orderpriority), read back with a partition predicate — the scan "
        "touches ONE partition directory (asserted in tests/test_plans.py). "
        "At 100 TB partition layout is the first-order scan reducer ahead "
        "of row-group stats."
    ),
    tags=("scan", "partitioning"),
)
def partition_pruning_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="part_prune_")
    try:
        t["orders"].write.mode("overwrite").partitionBy("o_orderpriority").parquet(work)
        back = spark.read.parquet(work).filter(F.col("o_orderpriority") == "1-URGENT")
        return (
            back.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "jdbc_scan",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    doc=(
        "JDBC catalog + source: the generated CREATE TABLE executes over "
        "JDBC (connectors.jdbc_execute — TiJDBCHelper.java:111-140 "
        "analog), rows load through the jdbc connector, and the catalog "
        "reflects schema AND primary key back out of JDBC metadata "
        "(Catalog.register_jdbc — TiFlinkCatalog.java:92-198, "
        "TiJDBCHelper.java:47-85). Runs against embedded Derby in the "
        "sandbox; the same path speaks to TiDB/MySQL/Postgres. The fn "
        "raises unless the reflected PK is n_nationkey, so a green row "
        "proves DDL execution, load, reflection, and scan parity."
    ),
    tags=("connector", "jdbc", "catalog"),
)
def jdbc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from tiflink_spark.catalog import Catalog
    from tiflink_spark.connectors import ConnectorOptions, get_connector, jdbc_execute

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="conn_jdbc_")
    # Keep derby.log inside the scratch dir, not the process cwd.
    spark._jvm.java.lang.System.setProperty("derby.system.home", work)
    url = f"jdbc:derby:{work}/db;create=true"
    try:
        jdbc_execute(
            spark,
            url,
            "CREATE TABLE nation_jdbc ("
            "n_nationkey INTEGER NOT NULL PRIMARY KEY, "
            "n_name VARCHAR(128), n_regionkey INTEGER)",
        )
        get_connector("jdbc").write(
            t["nation"].select("n_nationkey", "n_name", "n_regionkey"),
            ConnectorOptions(path=url, extra={"table": "nation_jdbc"}),
        )
        cat = Catalog(spark)
        spec = cat.register_jdbc("nation_jdbc", url)
        if [c.lower() for c in spec.pk] != ["n_nationkey"]:
            raise AssertionError(f"PK reflection failed: {spec.pk}")
        back = cat.table("nation_jdbc")
        # Derby folds unquoted identifiers to upper case; fold back and
        # restore the parquet-side integer width for the value hash.
        return back.select(
            F.col("N_NATIONKEY").cast("int").alias("n_nationkey"),
            F.col("N_NAME").alias("n_name"),
            F.col("N_REGIONKEY").cast("int").alias("n_regionkey"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "approx_percentile_bounded",
    """
    SELECT l_returnflag,
           CAST(round(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(20,3)), 2)
                AS DOUBLE) AS exact_p50,
           TRUE AS within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc=(
        "APPROX_PERCENTILE (t-digest/GK sketch). Sketch outputs are "
        "engine-specific, so the deterministic contract mirrors "
        "approx_count_distinct: Spark emits |approx-exact|/exact <= 1% "
        "as a boolean next to the exact continuous median, the oracle "
        "recomputes the exact side with a constant-true bound — a "
        "sketch drifting past 1% relative error hash-mismatches. The "
        "approx path is the 100 TB operator (mergeable partial "
        "sketches, one shuffle); the exact side exists for the gate."
    ),
    tags=("agg", "approx"),
)
def approx_percentile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tiflink_spark.queries_llm import _scan_fanout

    t = _t(spark, sf_dir)
    exact = F.expr("percentile(l_extendedprice, 0.5)")
    approx = F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
    li = t["lineitem"]
    # percentile/approx_percentile are typed-imperative aggregates (no
    # codegen partial agg); a single-row-group input pins their whole
    # per-row update loop to one core (guide §2.5). Hash-repartition on
    # a deterministic PK hash (NOT round-robin — that pays a local
    # sort-before-repartition pass, §2.5) when the scan layout is
    # under-parallel; no-op at real scale. Exact percentile is
    # multiset-determined, so the result is partition-independent; the
    # approx sketch's merge order changes, which only the 1%-bound
    # boolean observes (verified unchanged at sf0.001/0.01/0.1).
    fan = _scan_fanout(spark, _os.path.join(sf_dir, "lineitem.parquet"))
    if fan:
        li = li.select("l_returnflag", "l_extendedprice",
                       F.pmod(F.xxhash64("l_orderkey", "l_linenumber"),
                              F.lit(64 * fan)).alias("__k")
                       ).repartition(fan, "__k")
    return (
        li
        .groupBy("l_returnflag")
        .agg(exact.alias("__exact"), approx.alias("__approx"))
        .select(
            "l_returnflag",
            # Rounding happens in DECIMAL domain: the interpolated
            # median of 2-decimal prices is an exact 3-decimal value
            # whose double is a hair off .xx5, and Spark/DuckDB round
            # such doubles to different cents. The decimal(20,3) cast
            # settles the value identically on both engines first.
            F.round(F.col("__exact").cast("decimal(20,3)"), 2)
            .cast("double")
            .alias("exact_p50"),
            (
                F.abs(F.col("__approx") - F.col("__exact"))
                / F.abs(F.col("__exact"))
                <= F.lit(0.01)
            ).alias("within_1pct"),
        )
    )


@register(
    "jdbc_mv_publish",
    """
    WITH final_orders_jp AS (
        SELECT o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM final_orders_jp GROUP BY o_orderpriority
    """,
    doc=(
        "The reference's COMPLETE write-back loop: a continuously "
        "maintained MV is PUBLISHED INTO the database over JDBC and "
        "read back out (TiFlink's entire purpose — the Flink-maintained "
        "view lands in a TiDB table, TiFlinkApp.java:70-116 + "
        "FlinkTikvProducer). Here: planner-routed incremental agg MV "
        "over orders -> one churn batch -> rows written to an embedded "
        "Derby table through the jdbc connector -> re-read through the "
        "JDBC catalog. A green row proves maintain -> publish -> "
        "re-scan round-trip parity."
    ),
    tags=("connector", "jdbc", "mv", "sink"),
)
def jdbc_mv_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from tiflink_spark.app import MVApp
    from tiflink_spark.catalog import Catalog
    from tiflink_spark.changelog import OP_COL, OP_DELETE, SEQ_COL
    from tiflink_spark.connectors import ConnectorOptions, get_connector, jdbc_execute

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="jdbc_pub_")
    spark._jvm.java.lang.System.setProperty("derby.system.home", work)
    url = f"jdbc:derby:{work}/db;create=true"
    try:
        app = (
            MVApp.builder(spark)
            .source("orders_jp", t["orders"], pk=["o_orderkey"])
            .query(
                "SELECT o_orderpriority, count(*) AS n_orders, "
                "sum(o_totalprice) AS total_raw "
                "FROM orders_jp GROUP BY o_orderpriority"
            )
            .target(work + "/mv")
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        if app.maintenance_mode != "incremental":
            raise AssertionError("planner failed to route the publish MV")
        app.bootstrap()
        churn = (
            t["orders"].filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, F.monotonically_increasing_id())
        )
        app.refresh({"orders_jp": churn}, batch_id=1)

        jdbc_execute(
            spark,
            url,
            "CREATE TABLE mv_publish ("
            "o_orderpriority VARCHAR(32) NOT NULL PRIMARY KEY, "
            "n_orders BIGINT, total DOUBLE)",
        )
        rows = app.read().select(
            "o_orderpriority",
            "n_orders",
            F.round("total_raw", 2).alias("total"),
        )
        get_connector("jdbc").write(
            rows, ConnectorOptions(path=url, extra={"table": "mv_publish"})
        )
        cat = Catalog(spark)
        spec = cat.register_jdbc("mv_publish", url)
        if [c.lower() for c in spec.pk] != ["o_orderpriority"]:
            raise AssertionError(f"published-MV PK reflection failed: {spec.pk}")
        back = cat.table("mv_publish")
        return back.select(
            F.col("O_ORDERPRIORITY").alias("o_orderpriority"),
            F.col("N_ORDERS").alias("n_orders"),
            F.col("TOTAL").alias("total"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "jdbc_outbox_cdc",
    """
    WITH final_orders_ob AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
                    THEN o_totalprice + 25 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 100 < 40
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM final_orders_ob GROUP BY o_orderpriority
    """,
    doc=(
        "Poll-based CDC from a database outbox over JDBC — the CDC "
        "analog when the only source access is a JDBC session "
        "(FlinkTikvConsumer.java:92-131): change rows land in a "
        "transactional outbox table with the __op/__seq contract, each "
        "poll reads rows past the last consumed __seq (predicate pushed "
        "into the database), and the consumer's max-__seq bookkeeping "
        "plays resolvedTs. Two polled phases (deletes, then price "
        "updates) maintain the MV; a green row proves the outbox "
        "contract, predicate-pushed polling, and convergence."
    ),
    tags=("connector", "jdbc", "cdc", "mv"),
)
def jdbc_outbox_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from tiflink_spark.app import MVApp
    from tiflink_spark.changelog import OP_COL, OP_DELETE, OP_UPDATE, SEQ_COL
    from tiflink_spark.connectors import (
        ConnectorOptions,
        get_connector,
        jdbc_execute,
        jdbc_poll_changes,
    )

    t = _t(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="jdbc_ob_")
    spark._jvm.java.lang.System.setProperty("derby.system.home", work)
    url = f"jdbc:derby:{work}/db;create=true"
    # a bounded slice keeps the outbox small
    snap = t["orders"].filter(F.col("o_orderkey") % 100 < 40).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    try:
        jdbc_execute(
            spark,
            url,
            'CREATE TABLE outbox ('
            '"o_orderkey" BIGINT, "o_orderpriority" VARCHAR(32), '
            '"o_totalprice" DOUBLE, "__op" VARCHAR(4), "__seq" BIGINT)',
        )
        app = (
            MVApp.builder(spark)
            .source("orders_ob", snap, pk=["o_orderkey"])
            .query(
                "SELECT o_orderpriority, count(*) AS n_orders, "
                "sum(o_totalprice) AS total_raw "
                "FROM orders_ob GROUP BY o_orderpriority"
            )
            .target(work + "/mv")
            .num_buckets(4)
            .shuffle_partitions(8)
            .build()
        )
        app.bootstrap()

        w = F.monotonically_increasing_id()
        phase1 = (
            snap.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn(OP_COL, F.lit(OP_DELETE))
            .withColumn(SEQ_COL, w % 1000)
        )
        phase2 = (
            snap.filter((F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 25)
            .withColumn(OP_COL, F.lit(OP_UPDATE))
            .withColumn(SEQ_COL, w % 1000 + 10_000)
        )
        jdbc = get_connector("jdbc")
        resolved = -1  # nothing consumed yet; seqs start at 0
        for phase in (phase1, phase2):
            jdbc.write(phase, ConnectorOptions(path=url, extra={"table": "outbox"}))
            batch = jdbc_poll_changes(spark, url, "outbox", since_seq=resolved)
            mx = batch.agg(F.max(SEQ_COL)).collect()[0][0]
            if mx is not None:  # 0 is a legitimate max seq
                resolved = mx
            app.refresh({"orders_ob": batch}, batch_id=f"outbox-{resolved}")
        return (
            app.read()
            .select(
                "o_orderpriority",
                "n_orders",
                F.round("total_raw", 2).alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "multimodal_real_decode",
    """
    WITH ids AS (SELECT unnest(range(0, 24)) AS id),
    png AS (
      SELECT ids.id, 'png' AS kind,
             4 + ids.id % 5 AS a, 3 + ids.id % 4 AS b, 1 AS c,
             CAST(sum((x + 3*y + 7*ids.id) % 256) AS BIGINT) AS d
      FROM ids, range(0, 8) tx(x), range(0, 6) ty(y)
      WHERE ids.id % 2 = 0 AND x < 4 + ids.id % 5 AND y < 3 + ids.id % 4
      GROUP BY ids.id),
    wav AS (
      SELECT ids.id, 'wav' AS kind,
             8000 + 100 * (ids.id % 3) AS a, 64 + ids.id AS b, 1 AS c,
             CAST(sum(abs(((i * (ids.id + 1)) % 200 - 100) * 50)) AS BIGINT) AS d
      FROM ids, range(0, 87) t(i)
      WHERE ids.id % 2 = 1 AND i < 64 + ids.id
      GROUP BY ids.id)
    SELECT id, kind, a, b, c, d FROM png
    UNION ALL SELECT id, kind, a, b, c, d FROM wav
    """,
    doc=(
        "REAL media decode, stdlib-only: PNG bytes (chunk walk + IDAT "
        "inflate + scanline unfiltering via struct/zlib) and 16-bit PCM "
        "WAV bytes (wave module) are ENCODED from formulas, shipped as "
        "opaque binary rows, and decoded executor-side through the "
        "Arrow-batched mapInPandas path (multimodal.decode_media_auto). "
        "The oracle recomputes the encoded dimensions, rates, pixel "
        "sums, and sample sums from the same formulas — so a green row "
        "proves the decoder actually recovered what was encoded (a "
        "wrong unfilter or endianness flips the sums). PIL-dependent "
        "formats (JPEG/MP3/video) remain behind the documented "
        "NotImplementedError contract."
    ),
    tags=("llm", "multimodal"),
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from tiflink_spark.multimodal import decode_media_auto, encode_png, encode_wav

    rows = []
    for i in range(24):
        if i % 2 == 0:
            w, h = 4 + i % 5, 3 + i % 4
            px = bytes((x + 3 * y + 7 * i) % 256 for y in range(h) for x in range(w))
            rows.append((i, "png", bytearray(encode_png(w, h, px, 1))))
        else:
            samples = [((j * (i + 1)) % 200 - 100) * 50 for j in range(64 + i)]
            rows.append(
                (i, "wav", bytearray(encode_wav(samples, 8000 + 100 * (i % 3))))
            )
    media = spark.createDataFrame(rows, "id long, kind string, data binary")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "kind": [], "a": [], "b": [], "c": [], "d": []}
            for _, r in pdf.iterrows():
                m = decode_media_auto(bytes(r["data"]))
                out["id"].append(int(r["id"]))
                out["kind"].append(r["kind"])
                if r["kind"] == "png":
                    out["a"].append(m["width"])
                    out["b"].append(m["height"])
                    out["c"].append(m["n_channels"])
                    out["d"].append(m["pixel_sum"])
                else:
                    out["a"].append(m["sample_rate"])
                    out["b"].append(m["n_frames"])
                    out["c"].append(m["n_channels"])
                    out["d"].append(m["sample_abs_sum"])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema="id long, kind string, a long, b long, c long, d long")


@register(
    "multimodal_real_resize",
    """
    WITH ids AS (SELECT unnest(range(0, 24)) AS id),
    cfg AS (SELECT id, 4 + id % 5 AS w, 3 + id % 4 AS h
            FROM ids WHERE id % 2 = 0)
    SELECT cfg.id, 3 AS width, 3 AS height, 1 AS n_channels,
           CAST(sum(((tx * cfg.w // 3) + 3 * (ty * cfg.h // 3) + 7 * cfg.id) % 256)
                AS BIGINT) AS pixel_sum
    FROM cfg, range(0, 3) a(tx), range(0, 3) b(ty)
    GROUP BY cfg.id, cfg.w, cfg.h
    """,
    doc=(
        "REAL PNG resize, stdlib-only: formula-encoded PNGs are decoded "
        "(full unfilter), nearest-neighbor resampled with pure integer "
        "math (src = dst * src_dim // dst_dim), re-ENCODED to PNG, and "
        "re-decoded executor-side to verify the round trip before the "
        "resized pixel sum is emitted. The oracle recomputes the "
        "resampled sum from the generating formula — a green row proves "
        "decode -> resample -> encode -> decode fidelity end to end."
    ),
    tags=("llm", "multimodal"),
)
def multimodal_real_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from tiflink_spark.multimodal import decode_png, encode_png, resize_png

    rows = []
    for i in range(0, 24, 2):
        w, h = 4 + i % 5, 3 + i % 4
        px = bytes((x + 3 * y + 7 * i) % 256 for y in range(h) for x in range(w))
        rows.append((i, bytearray(encode_png(w, h, px, 1))))
    media = spark.createDataFrame(rows, "id long, data binary")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "width": [], "height": [], "n_channels": [], "pixel_sum": []}
            for _, r in pdf.iterrows():
                m = resize_png(bytes(r["data"]), 3, 3)
                # round-trip verification: decoding the re-encoded bytes
                # must reproduce the resampled pixels exactly
                back = decode_png(m["data"])
                if back["pixel_sum"] != m["pixel_sum"]:
                    raise AssertionError("resize round-trip mismatch")
                out["id"].append(int(r["id"]))
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["n_channels"].append(m["n_channels"])
                out["pixel_sum"].append(m["pixel_sum"])
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run, schema="id long, width long, height long, n_channels long, pixel_sum long"
    )


@register(
    "multimodal_jpeg_decode",
    """
    WITH ids AS (SELECT unnest(range(0, 16)) AS id)
    SELECT id,
           CASE WHEN id % 2 = 0 THEN 'gray' ELSE 'rgb' END AS kind,
           CASE WHEN id % 2 = 0 THEN 10 + id % 6 ELSE 9 + id % 5 END AS width,
           CASE WHEN id % 2 = 0 THEN 8 + id % 5 ELSE 7 + id % 4 END AS height,
           CASE WHEN id % 2 = 0 THEN 1 ELSE 3 END AS n_channels,
           true AS ok
    FROM ids
    """,
    doc=(
        "REAL baseline JPEG decode, stdlib+numpy only (no PIL): smooth "
        "formula images are compressed by the repo's own "
        "baseline-sequential encoder (8x8 numpy DCT, Annex-K "
        "quantization, canonical Huffman tables carried in DHT), "
        "shipped as opaque binary rows, sniffed and decoded "
        "executor-side through the Arrow mapInPandas path "
        "(decode_media_auto -> decode_jpeg: marker walk, canonical "
        "Huffman decode, dequantize, inverse zigzag, IDCT, "
        "YCbCr->RGB). JPEG is lossy, so instead of an exact pixel sum "
        "the decoder's output is compared per-pixel against the "
        "generating formula executor-side; `ok` asserts max abs error "
        "<= 4 (the smooth-content bound — a wrong Huffman table, "
        "zigzag, or IDCT blows it by orders of magnitude). The oracle "
        "recomputes the deterministic dimensions/channels and expects "
        "every row ok. Progressive/subsampled JPEG stays behind "
        "NotImplementedError."
    ),
    tags=("llm", "multimodal"),
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from tiflink_spark.multimodal import decode_media_auto, encode_jpeg

    def formula_pixels(i: int) -> tuple[int, int, int, bytes]:
        if i % 2 == 0:
            w, h, ch = 10 + i % 6, 8 + i % 5, 1
            px = bytes(
                min(255, x * 3 + y * 2 + i) for y in range(h) for x in range(w)
            )
        else:
            w, h, ch = 9 + i % 5, 7 + i % 4, 3
            px = bytes(
                min(255, x * 3 + y * 2 + 20 * c + i)
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
        return w, h, ch, px

    rows = []
    for i in range(16):
        w, h, ch, px = formula_pixels(i)
        rows.append((i, "gray" if ch == 1 else "rgb", bytearray(encode_jpeg(w, h, px, ch))))
    media = spark.createDataFrame(rows, "id long, kind string, data binary")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "kind": [], "width": [], "height": [], "n_channels": [], "ok": []}
            for _, r in pdf.iterrows():
                i = int(r["id"])
                m = decode_media_auto(bytes(r["data"]))
                w, h, ch, px = formula_pixels(i)
                err = max(
                    abs(a - b) for a, b in zip(px, m["pixels"])
                ) if len(px) == len(m["pixels"]) else 999
                out["id"].append(i)
                out["kind"].append(r["kind"])
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["n_channels"].append(m["n_channels"])
                out["ok"].append(
                    err <= 8 and (m["width"], m["height"], m["n_channels"]) == (w, h, ch)
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run, schema="id long, kind string, width long, height long, n_channels long, ok boolean"
    )


@register(
    "multimodal_video_framesample",
    """
    WITH vids AS (SELECT unnest(range(0, 6)) AS id),
    cfg AS (SELECT id, 4 + id % 3 AS w, 3 + id % 2 AS h, 8 + 4 * id AS nf FROM vids),
    sampled AS (
      SELECT cfg.id, cfg.w, cfg.h, f.f AS frame_idx
      FROM cfg, range(0, 40) f(f)
      WHERE f.f < cfg.nf AND f.f % 4 = 0)
    SELECT s.id, s.frame_idx,
           CAST(sum((x*3 + y*5 + s.frame_idx*7 + c*11) % 256) AS BIGINT) AS frame_sum
    FROM sampled s, range(0, 8) tx(x), range(0, 8) ty(y), range(0, 3) tc(c)
    WHERE x < s.w AND y < s.h
    GROUP BY s.id, s.frame_idx
    """,
    doc=(
        "REAL video frame-sampling, stdlib-only: formula-generated "
        "uncompressed-DIB AVI files (RIFF walk, avih/strf parse, "
        "bottom-up BGR '00db' frames - multimodal.encode_avi/"
        "decode_avi) are decoded executor-side through the Arrow "
        "mapInPandas path, every 4th frame is sampled, and each "
        "sampled frame's pixel sum is emitted. The container format "
        "is lossless, so the oracle recomputes the exact sums from "
        "the generating formulas - a green row proves real container "
        "parsing, row-order/stride/BGR handling, and frame "
        "extraction. Compressed video stays behind the documented "
        "NotImplementedError (needs ffmpeg)."
    ),
    tags=("llm", "multimodal", "video"),
)
def multimodal_video_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from tiflink_spark.multimodal import decode_media_auto, encode_avi

    rows = []
    for i in range(6):
        w, h, nf = 4 + i % 3, 3 + i % 2, 8 + 4 * i
        frames = [
            bytes(
                (x * 3 + y * 5 + f * 7 + c * 11) % 256
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
            for f in range(nf)
        ]
        rows.append((i, "avi", bytearray(encode_avi(w, h, frames, fps=10))))
    media = spark.createDataFrame(rows, "id long, kind string, data binary")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "frame_idx": [], "frame_sum": []}
            for _, r in pdf.iterrows():
                m = decode_media_auto(bytes(r["data"]))
                for fi in range(0, m["n_frames"], 4):
                    out["id"].append(int(r["id"]))
                    out["frame_idx"].append(fi)
                    out["frame_sum"].append(m["frame_sums"][fi])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema="id long, frame_idx long, frame_sum long")


# ---------------------------------------------------------------------------
# Row-pattern matching (MATCH_RECOGNIZE subset, patterns.py)
# ---------------------------------------------------------------------------


# Shared between the batch gate (below) and the streaming gate in
# queries_streaming — ONE oracle and ONE pattern spec, so the two
# entry points are provably checked against identical semantics.
FUNNEL_ORACLE_SQL = """
    WITH e AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    clicks AS (
        SELECT user_id, rn, value,
               rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        FROM e WHERE event_type = 'click'),
    cruns AS (
        SELECT user_id, grp, min(rn) AS c_start, max(rn) AS c_end,
               count(*) AS n_clicks,
               CAST(round(sum(value) * 100) AS BIGINT) AS clicks_cents
        FROM clicks GROUP BY user_id, grp),
    matches AS (
        SELECT v.user_id, v.event_id AS v_event, r.n_clicks, r.clicks_cents,
               p.event_id AS p_event, v.rn
        FROM cruns r
        JOIN e v ON v.user_id = r.user_id AND v.rn = r.c_start - 1
                AND v.event_type = 'view'
        JOIN e p ON p.user_id = r.user_id AND p.rn = r.c_end + 1
                AND p.event_type = 'purchase')
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn)
                AS BIGINT) AS match_seq,
           v_event, n_clicks, clicks_cents, p_event
    FROM matches
    """

FUNNEL_PATTERN = [("V", "1"), ("C", "+"), ("P", "1")]
FUNNEL_DEFINE = {
    "V": "event_type = 'view'",
    "C": "event_type = 'click'",
    "P": "event_type = 'purchase'",
}
FUNNEL_MEASURES = [
    ("v_event", "V", "event_id", "first"),
    ("n_clicks", "C", None, "count"),
    ("clicks_value", "C", "value", "sum"),
    ("p_event", "P", "event_id", "last"),
]


@register(
    "pattern_funnel_detect",
    FUNNEL_ORACLE_SQL,
    doc=(
        "MATCH_RECOGNIZE subset (patterns.match_recognize): detect the "
        "view -> click+ -> purchase funnel per user in event order — "
        "Flink SQL's CEP entry point, which the reference's query "
        "surface includes by delegation (TiFlinkApp.java:270; Spark "
        "has no MATCH_RECOGNIZE). DEFINE predicates evaluate JVM-side "
        "as boolean columns; an Arrow-batched per-partition NFA "
        "(greedy +, backtracking, AFTER MATCH SKIP PAST LAST ROW) "
        "emits one row per match with FIRST/LAST/COUNT/SUM measures. "
        "Scales like any keyed aggregation — shuffle on user_id, "
        "per-partition scan, no global collect. The oracle implements "
        "the same semantics independently via the gaps-and-islands "
        "construction (consecutive click runs bounded by a view and a "
        "purchase), so a green row cross-checks the NFA against plain "
        "SQL."
    ),
    tags=("pattern", "cep", "funnel"),
)
def pattern_funnel_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.patterns import match_recognize

    t = _t(spark, sf_dir)
    out = match_recognize(
        t["events"],
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=FUNNEL_PATTERN,
        define=FUNNEL_DEFINE,
        measures=FUNNEL_MEASURES,
    )
    return out.select(
        "user_id",
        "match_seq",
        "v_event",
        "n_clicks",
        F.round(F.col("clicks_value") * 100).cast("bigint").alias("clicks_cents"),
        "p_event",
    )


_VSHAPE_ORACLE_SQL = """
    WITH ordered AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pv
        FROM events),
    dirs AS (
        SELECT user_id, value, rn,
               CASE WHEN value < pv THEN 'D'
                    WHEN value > pv THEN 'U'
                    ELSE 'F' END AS dir
        FROM ordered),
    runs AS (
        SELECT user_id, value, rn, dir,
               rn - row_number() OVER (PARTITION BY user_id, dir
                                       ORDER BY rn) AS grp
        FROM dirs),
    bounds AS (
        SELECT user_id, dir, grp, min(rn) AS srn, max(rn) AS ern,
               CAST(count(*) AS BIGINT) AS n,
               min(value) AS minv, max(value) AS maxv
        FROM runs GROUP BY user_id, dir, grp)
    SELECT d.user_id,
           CAST(row_number() OVER (PARTITION BY d.user_id ORDER BY d.srn)
                AS BIGINT) AS match_seq,
           d.minv AS bottom, u.maxv AS peak,
           d.n AS n_down, u.n AS n_up
    FROM bounds d
    JOIN bounds u ON u.user_id = d.user_id AND u.dir = 'U'
                 AND d.dir = 'D' AND u.srn = d.ern + 1
    """


@register(
    "pattern_vshape_prev",
    _VSHAPE_ORACLE_SQL,
    doc=(
        "MATCH_RECOGNIZE with PREV() navigation in DEFINE — the "
        "canonical V-shape query (price falls, then rises), the form "
        "every Flink/Oracle MATCH_RECOGNIZE tutorial opens with: "
        "PATTERN (D+ U+) DEFINE D AS value < PREV(value), U AS value "
        "> PREV(value). Matches are contiguous row runs, so PREV over "
        "the match sequence IS the previous row of the ordered "
        "partition — the rewrite compiles it to a JVM-side lag() "
        "window column and the DEFINE predicates stay whole-stage "
        "codegen (patterns._rewrite_nav; zero Python in the predicate "
        "path). Greedy D+ consumes the maximal descending run, U+ the "
        "maximal ascending run (backtracking into a down-run can "
        "never help U — those rows fail U's define), so the oracle is "
        "the independent gaps-and-islands construction: adjacent "
        "(down-run, up-run) pairs. Measures avoid cross-engine float "
        "arithmetic: min/max over untouched doubles, counts as "
        "BIGINT."
    ),
    tags=("pattern", "cep", "navigation"),
)
def pattern_vshape_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.patterns import match_recognize

    t = _t(spark, sf_dir)
    return match_recognize(
        t["events"],
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=[("D", "+"), ("U", "+")],
        define={"D": "value < PREV(value)", "U": "value > PREV(value)"},
        measures=[
            ("bottom", "D", "value", "min"),
            ("peak", "U", "value", "max"),
            ("n_down", "D", None, "count"),
            ("n_up", "U", None, "count"),
        ],
    ).select("user_id", "match_seq", "bottom", "peak", "n_down", "n_up")


_OVERLAP_ORACLE_SQL = """
    WITH ordered AS (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    views AS (
        SELECT o.user_id, o.rn, o.event_id AS v_event,
               (SELECT min(i.rn) FROM ordered i
                WHERE i.user_id = o.user_id AND i.rn > o.rn
                  AND i.event_type <> 'click') AS jrn
        FROM ordered o WHERE o.event_type = 'view')
    SELECT v.user_id,
           CAST(row_number() OVER (PARTITION BY v.user_id ORDER BY v.rn)
                AS BIGINT) AS match_seq,
           v.v_event, p.event_id AS p_event,
           CAST(v.jrn - v.rn - 1 AS BIGINT) AS n_clicks
    FROM views v
    JOIN ordered p ON p.user_id = v.user_id AND p.rn = v.jrn
                  AND p.event_type = 'purchase'
    """


@register(
    "pattern_overlap_views",
    _OVERLAP_ORACLE_SQL,
    doc=(
        "MATCH_RECOGNIZE with AFTER MATCH SKIP TO NEXT ROW and a "
        "RELUCTANT quantifier: every view whose next non-click event "
        "is a purchase (clicks-only path to conversion), with matches "
        "allowed to OVERLAP — a view inside another match's click run "
        "still reports its own conversion, which SKIP PAST LAST ROW "
        "would swallow. PATTERN (V C*? P): the reluctant star takes "
        "the fewest clicks that reach a purchase. The oracle derives "
        "each view's first following non-click row independently "
        "(correlated min over the ordered partition) and keeps it iff "
        "it is a purchase — the same semantics with no NFA."
    ),
    tags=("pattern", "cep", "overlap"),
)
def pattern_overlap_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.patterns import match_recognize

    t = _t(spark, sf_dir)
    return match_recognize(
        t["events"],
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=[("V", "1"), ("C", "*?"), ("P", "1")],
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
        measures=[
            ("v_event", "V", "event_id", "first"),
            ("p_event", "P", "event_id", "last"),
            ("n_clicks", "C", None, "count"),
        ],
        after_match="to next row",
    ).select("user_id", "match_seq", "v_event", "p_event", "n_clicks")


_RUNSTATE_ORACLE_SQL = """
    WITH ordered AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    runs AS (
        SELECT o.user_id, o.rn, o.value AS start_v,
               (SELECT min(i.rn) FROM ordered i
                WHERE i.user_id = o.user_id AND i.rn > o.rn
                  AND i.value <= o.value) AS brk,
               (SELECT max(i.rn) FROM ordered i
                WHERE i.user_id = o.user_id) AS mx
        FROM ordered o),
    matches AS (
        SELECT user_id, rn, start_v,
               CAST(COALESCE(brk, mx + 1) - rn - 1 AS BIGINT) AS n_up
        FROM runs WHERE COALESCE(brk, mx + 1) - rn - 1 >= 1)
    SELECT ma.user_id,
           CAST(row_number() OVER (PARTITION BY ma.user_id ORDER BY ma.rn)
                AS BIGINT) AS match_seq,
           ma.start_v,
           (SELECT max(i.value) FROM ordered i
            WHERE i.user_id = ma.user_id
              AND i.rn > ma.rn AND i.rn <= ma.rn + ma.n_up) AS peak,
           ma.n_up
    FROM matches ma
    """


@register(
    "pattern_runstate_first",
    _RUNSTATE_ORACLE_SQL,
    doc=(
        "MATCH_RECOGNIZE with FIRST() RUN-STATE navigation in DEFINE "
        "(round 9; the r8 documented refusal, patterns.py): rallies — "
        "for every row, the maximal contiguous run of following rows "
        "strictly above the MATCH'S OWN start value: PATTERN (S U+) "
        "AFTER MATCH SKIP TO NEXT ROW, U AS value > FIRST(value). "
        "FIRST/LAST need the in-flight match assignment, so such a "
        "DEFINE compiles (restricted comparison grammar, "
        "patterns._compile_runstate) and evaluates per candidate row "
        "inside the Arrow-batched matcher — unlike PREV/NEXT it cannot "
        "be a lag() column: the offset to the match start varies per "
        "row. The oracle derives each row's run independently: the "
        "first following row at-or-below the start value bounds the "
        "run (correlated min over the ordered partition) — the same "
        "semantics with no NFA. Measures avoid cross-engine float "
        "arithmetic: untouched doubles + BIGINT counts."
    ),
    tags=("pattern", "cep", "navigation", "runstate"),
)
def pattern_runstate_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiflink_spark.patterns import match_recognize

    t = _t(spark, sf_dir)
    return match_recognize(
        t["events"],
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=[("S", "1"), ("U", "+")],
        define={"U": "value > FIRST(value)"},
        measures=[
            ("start_v", "S", "value", "first"),
            ("peak", "U", "value", "max"),
            ("n_up", "U", None, "count"),
        ],
        after_match="to next row",
    ).select("user_id", "match_seq", "start_v", "peak", "n_up")
