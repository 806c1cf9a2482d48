"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship: full encode->decode->verify round-trip of the
              columnar engine over a webtext-shaped table at sf0.001.
``queries`` — exactly 50 entries covering the implemented operator
              surface (SURVEY.md §2 + training-data-pipeline functions),
              each exercising ``eel_sdk_spark`` code paths. Sized to the
              driver gate's 50-entry window so EVERY registered query
              lands a CORRECTNESS row; related scalar ops are folded
              into multi-column queries (the hash compare still
              validates each constituent column exactly).
``oracle_sql`` — a DuckDB twin for ALL 50. Codec round-trips state the
              expected verification result (every row matches after
              encode->decode: a codec bug breaks the hash compare);
              media_features states the purity property (identical
              blobs -> identical vectors).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eel_sdk_spark.functions import dedup, multimodal, similarity, text as T
from eel_sdk_spark.ops import DataStream

EPOCH_1996 = 820_454_400        # 1996-01-01 UTC
EPOCH_Q1_CUT = 904_694_400      # 1998-09-02 UTC
STOP_SQL = "['the','a','an','and','of','to','in','is','at','this']"


#: Tables whose queries run HEAVY per-row expression chains (shingle
#: explode + 4x md5 minhash, 60-bit simhash bit-counts, the text panel's
#: regex battery, cosine/dot folds over float arrays) — for these the
#: per-row compute dwarfs a redistribution shuffle of the whole (small)
#: table by orders of magnitude. Pure scan+aggregate tables (lineitem,
#: orders, events) are deliberately NOT floored: there the scan itself
#: is the cost and an extra full-table exchange is a net loss (measured
#: sf1: tpch_q1 0.9 s -> 2.0 s with a blanket floor).
_COMPUTE_HEAVY = {"documents", "embeddings"}


#: (path, size, mtime, parallelism) -> bool (floor fired). Memoizes the
#: PLAN-TIME parallelism probe only — a pure file-metadata decision
#: (split count x row groups), never data or results; invalidated by
#: any rewrite via the size/mtime key. The probe costs ~0.1 s of py4j
#: planning per query build, paid once per distinct input file.
_FLOOR_MEMO: dict[tuple, bool] = {}


#: (app_id, path, size, mtime) -> lazy DataFrame HANDLE. Reuses the
#: reader's logical plan across query builds in one session — this is
#: what any normal program does (read a table once, reference it many
#: times); `spark.read.parquet` costs ~70 ms of py4j + footer/file-
#: index work per call and the bench's 12 queries build ~16 table
#: references per pass. NO data and NO results are stored (a DataFrame
#: is a query description; every execution still scans the parquet
#: inputs), invalidation is by file size+mtime like _FLOOR_MEMO, and
#: the key includes the Spark applicationId so a stopped session's
#: handles are never reused.
_DF_MEMO: dict[tuple, DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        skey = (path, st.st_size, st.st_mtime)
    except OSError:
        st, skey = None, None
    dkey = ((spark.sparkContext.applicationId,) + skey) if skey else None
    df = _DF_MEMO.get(dkey) if dkey is not None else None
    if df is None:
        df = spark.read.parquet(path)
        if dkey is not None:
            _DF_MEMO[dkey] = df
    if name in _COMPUTE_HEAVY:
        want = spark.sparkContext.defaultParallelism
        key = (skey + (want,)) if skey else None
        fire = _FLOOR_MEMO.get(key) if key is not None else None
        if fire is None:
            fire = _scan_floor(spark, df, path) is not df
            if key is not None:
                _FLOOR_MEMO[key] = fire
        if fire:
            df = df.repartition(want)
    return df


def _scan_floor(spark: SparkSession, df: DataFrame,
                path: str | None = None) -> DataFrame:
    """Scale-adaptive scan-parallelism floor (r9, guide §2.2/§6): the
    bench tables are SINGLE-ROW-GROUP parquet files, and a parquet row
    group is the smallest splittable unit — byte-range splits beyond the
    row-group count are empty tasks, so every downstream per-row
    expression chain (shingle+md5 minhash, simhash bit-counts, cosine
    folds) otherwise runs on 1-2 of the session's cores until the first
    exchange (measured sf1: the minhash signature stage was single-task —
    7.5 s of a 9 s query wall; the same chain after a repartition(32)
    ran in 0.8 s). Effective scan parallelism = min(splits, row groups),
    NOT ``getNumPartitions()`` alone (which counts empty splits).
    Redistributing costs one small shuffle of a BY-DEFINITION small
    input (single-digit row groups ⇒ at most a few hundred MB), and on a
    real multi-file / multi-row-group table the floor is a no-op, so no
    extra shuffle ever appears at scale. Round-robin repartition keeps
    results identical: every declared query is an aggregation/join/
    window whose output is row-order independent (pack_sequences
    re-repartitions to 1 explicitly downstream)."""
    want = spark.sparkContext.defaultParallelism
    eff = df.rdd.getNumPartitions()
    if eff >= want and path is not None:
        try:  # splits past the row-group count are empty tasks
            import pyarrow.parquet as _pq
            eff = min(eff, _pq.ParquetFile(path).metadata.num_row_groups)
        except Exception:
            pass
    if eff < want:
        return df.repartition(want)
    return df


# --------------------------------------------------------------------------
# flagship: the columnar_encode north-rule pipeline end-to-end
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Encode a webtext-shaped table with the codec engine, decode it back,
    and return a per-column verification summary (match counts + bytes)."""
    from eel_sdk_spark.encode import decode_blocks_df, encode_df

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    web = docs.select(
        F.concat(F.lit("https://doc.example.com/"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    schema_ddl = ("url string, warc_ts timestamp, html binary, "
                  "text string, lang string")
    blocks = encode_df(web, key="url", n_parts=8)
    blocks.cache()
    decoded = decode_blocks_df(blocks, schema_ddl)
    joined = decoded.alias("d").join(web.alias("o"), "url", "inner")
    summary = joined.agg(
        F.count("*").alias("rows_joined"),
        F.sum(F.when(F.col("d.text").eqNullSafe(F.col("o.text")), 1)
              .otherwise(0)).alias("text_matches"),
        F.sum(F.when(F.col("d.html").eqNullSafe(F.col("o.html")), 1)
              .otherwise(0)).alias("html_matches"),
        F.sum(F.when(F.col("d.lang").eqNullSafe(F.col("o.lang")), 1)
              .otherwise(0)).alias("lang_matches"),
    )
    bytes_row = blocks.agg(F.sum("raw_bytes").alias("raw_bytes"),
                           F.sum("enc_bytes").alias("enc_bytes"))
    out = summary.crossJoin(bytes_row)
    out.count()
    blocks.unpersist()
    return out


# --------------------------------------------------------------------------
# operator queries (spark side)
# --------------------------------------------------------------------------

def q_filter_projection(spark, sf):
    ds = DataStream(_t(spark, sf, "lineitem"))
    return (ds.filter((F.col("l_quantity") < 10)
                      & (F.unix_timestamp("l_shipdate") < EPOCH_1996))
            .projection("l_orderkey", "l_partkey", "l_quantity").df)


def q_project_transform(spark, sf):
    ds = DataStream(_t(spark, sf, "events"))
    return (ds.add_field("v2", F.round(F.col("value") * 2, 4))
            .rename_field("event_type", "etype")
            .projection("event_id", "etype", "v2").df)


def q_field_ops(spark, sf):
    """r7 fold (update_field + replace_nulls merged to free registry
    slots for pagerank/range_lookup/pack_sequences): both DataStream
    field transforms run in full and ride as tagged legs — the hash
    compare still validates each operator's exact per-row output."""
    upd = (DataStream(_t(spark, sf, "orders"))
           .update_field("o_orderpriority", "1-URGENT", "URGENT")
           .projection("o_orderkey", "o_orderpriority").df
           .select(F.lit("update").alias("leg"),
                   F.col("o_orderkey").alias("k1"),
                   F.lit(None).cast("long").alias("k2"),
                   F.col("o_orderpriority").alias("v")))
    rn = (DataStream(_t(spark, sf, "lineitem"))
          .add_field("rf", F.expr("nullif(l_returnflag, 'N')"))
          .projection("l_orderkey", "l_linenumber", "rf")
          .replace_null_values("X").df
          .select(F.lit("nulls").alias("leg"),
                  F.col("l_orderkey").alias("k1"),
                  F.col("l_linenumber").cast("long").alias("k2"),
                  F.col("rf").alias("v")))
    return upd.unionByName(rn)


def q_broadcast_join_agg(spark, sf):
    """Broadcast inner join + aggregation. r9: the broadcast is now
    SIZE-GATED (guide §3.1 — broadcast the side that fits): above a
    16 MB build input the single-threaded driver-side relation build
    dominated the query (measured sf1: 2.0 s forced-broadcast vs 0.74 s
    shuffled-hash, whose per-partition builds parallelize), so the big
    regime picks SHUFFLE_HASH. All correctness-gate scale factors stay
    under the gate and keep exercising the broadcast path; the join is
    an inner equi-join so the strategy cannot change the result."""
    import os

    li = DataStream(_t(spark, sf, "lineitem"))
    orders = _t(spark, sf, "orders")
    if os.path.getsize(f"{sf}/orders.parquet") <= (16 << 20):
        right = F.broadcast(orders)
    else:
        right = orders.hint("SHUFFLE_HASH")
    joined = li.df.join(right,
                        li.df.l_orderkey == orders.o_orderkey)
    return (joined.groupBy("o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"),
                 F.count("*").alias("n_items")))


def q_join_multi(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    j = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (j.groupBy("r_name")
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal")))


def q_set_ops(spark, sf):
    """union + substract [sic] + intersection (DataStream.scala:240-276)
    composed in ONE multiset-exact plan: (all \\ (urgent ∪ high)) ∩ open,
    plus the former standalone ``distinct`` row folded in as a second
    tagged leg (r6 fold — same contract as the r5 take_ordered/ann_brute
    folds: the hash compare still validates every constituent exactly).
    A bag-vs-set slip in any operator shifts the result counts."""
    o = DataStream(_t(spark, sf, "orders"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT") \
              .projection("o_custkey")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH") \
            .projection("o_custkey")
    openo = o.filter(F.col("o_orderstatus") == "O").projection("o_custkey")
    allc = o.projection("o_custkey")
    setops = (allc.subtract(urgent.union(high)).intersection(openo).df
              .select(F.lit("setops").alias("leg"),
                      F.col("o_custkey").cast("string").alias("a"),
                      F.lit(None).cast("string").alias("b")))
    dis = (DataStream(_t(spark, sf, "lineitem"))
           .projection("l_returnflag", "l_linestatus").distinct().df
           .select(F.lit("distinct").alias("leg"),
                   F.col("l_returnflag").alias("a"),
                   F.col("l_linestatus").alias("b")))
    return setops.unionByName(dis)


def q_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.filter(F.unix_timestamp("l_shipdate") <= EPOCH_Q1_CUT)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                               * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order")))


def q_global_agg(spark, sf):
    """aggregated() global summary + minBy/maxBy arg-extrema in one row
    (DataStream.scala:300-344): count/min/max/avg plus the order ids that
    carry the extreme prices.

    r7 fold: the sketches module's column_profile rides as a 'profile'
    leg over the events table — its EXACT fields (non-null count, null
    count, min/max/mean) are hash-compared per column; the approximate
    fields (HLL++ distinct, GK quantiles) are engine-specific by nature
    and stay bounds-pinned in tests/test_sketches.py instead."""
    from eel_sdk_spark.functions.sketches import column_profile

    agg = (DataStream(_t(spark, sf, "orders")).aggregated()
           .agg(F.count("*").alias("n"),
                F.round(F.min("o_totalprice"), 2).alias("vmin"),
                F.round(F.max("o_totalprice"), 2).alias("vmax"),
                F.round(F.avg("o_totalprice"), 4).alias("vmean"),
                F.max_by("o_orderkey", "o_totalprice").alias("top_order"),
                F.min_by("o_orderkey", "o_totalprice").alias("bottom_order"))
           .to_datastream().df
           .select(F.lit("agg").alias("leg"),
                   F.lit(None).cast("string").alias("col"),
                   "n", F.lit(None).cast("long").alias("n_nulls"),
                   "vmin", "vmax", "vmean", "top_order", "bottom_order"))
    # approx=False (r9, guide §1.2): this leg hash-compares ONLY the
    # exact fields — the HLL++ and percentile sketches were computed
    # and discarded on every run (they stay exercised, with bounds, in
    # tests/test_sketches.py via the default approx=True)
    prof = column_profile(_t(spark, sf, "events"),
                          cols=["value", "event_type"], approx=False)
    prof_leg = prof.select(
        F.lit("profile").alias("leg"), "col", "n", "n_nulls",
        F.round("min", 4).alias("vmin"), F.round("max", 4).alias("vmax"),
        F.round("mean", 4).alias("vmean"),
        F.lit(None).cast("long").alias("top_order"),
        F.lit(None).cast("long").alias("bottom_order"))
    return agg.unionByName(prof_leg)


def q_topk_per_group(spark, sf):
    """Per-group top-3 (window rank) UNIONED with the global top-10 under
    the sentinel group -1 — the global slice goes through DataStream.take
    (the reference's take(n) with ordering), so the former standalone
    take_ordered gate row stays hash-validated inside this one."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.col("o_orderkey"))
    # r9 (guide §2.4): explicit hash repartition on the window key —
    # it IS the exchange the window requires (ENSURE_REQUIREMENTS),
    # but declaring it skips the pre-exchange Sort + partial
    # WindowGroupLimit stage, which on a low-row-group input ran on
    # 1-2 tasks (measured sf1-equiv: 1.13 s -> 0.79 s, rows
    # exceptAll-identical). Forfeiting the partial top-3 prune is free
    # for THIS query at every scale: the group key is the customer, so
    # rows/group ≈ 10 regardless of sf and the prune never removes
    # anything. Partition count comes from spark.sql.shuffle.partitions
    # (no literal — cluster-configured at scale), narrow 3-col
    # projection before the exchange (guide §2.3).
    per_group = (o.select("o_custkey", "o_orderkey", "o_totalprice")
                 .repartition(F.col("o_custkey"))
                 .withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= 3)
                 .select("o_custkey", "o_orderkey", "rn"))
    top10 = DataStream(o.select("o_custkey", "o_orderkey", "o_totalprice")) \
        .take(10, order_by=[F.desc("o_totalprice"), F.col("o_orderkey")]).df
    wg = Window.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    global_top = (top10.withColumn("rn", F.row_number().over(wg))
                  .select(F.lit(-1).cast("long").alias("o_custkey"),
                          "o_orderkey", "rn"))
    return per_group.unionByName(global_top)


def q_row_slices(spark, sf):
    """take_while + drop(n) + sample(k) folded into ONE ordered-slice
    row (r6 second fold wave, same tagged-leg contract as set_ops/
    price_histogram): all three of the reference's order-dependent row
    selectors (DataStream.scala takeWhile/drop/sample) run and every
    selected row rides the hash compare."""
    # r9: the take_while and drop legs order the SAME table by the SAME
    # (unique) key, so they share ONE with_global_index frame — one
    # range exchange + localCheckpoint materialization instead of two
    # (guide §2.4 "two operations keyed the same way can share one
    # exchange"). Identical results: __rn per o_orderkey is the same
    # under either leg's projection, and each leg applies the same
    # filter the DataStream op applied (take_while: rows before the
    # first failing global index; drop: __rn > n).
    from eel_sdk_spark.ops import with_global_index

    o = _t(spark, sf, "orders")
    null_k2 = F.lit(None).cast("long").alias("k2")
    idx = with_global_index(o.select("o_orderkey", "o_totalprice"),
                            "o_orderkey")
    bad = idx.agg(F.min(F.when(~(F.col("o_totalprice") > 1000),
                               F.col("__rn"))).alias("__bad"))
    tw = (idx.join(F.broadcast(bad), how="cross")
          .filter(F.col("__bad").isNull() | (F.col("__rn") < F.col("__bad")))
          .select(F.lit("take_while").alias("leg"),
                  F.col("o_orderkey").alias("k1"), null_k2))
    dr = (idx.filter(F.col("__rn") > 100)
          .select(F.lit("drop").alias("leg"),
                  F.col("o_orderkey").alias("k1"), null_k2))
    li = DataStream(_t(spark, sf, "lineitem"))
    se = (li.projection("l_orderkey", "l_linenumber")
          .sample_every_k(500, order_by=[F.col("l_orderkey"),
                                         F.col("l_linenumber")]).df
          .select(F.lit("sample").alias("leg"),
                  F.col("l_orderkey").alias("k1"),
                  F.col("l_linenumber").cast("long").alias("k2")))
    return tw.unionByName(dr).unionByName(se)


def q_dup_spans(spark, sf):
    """Exact-substring span dedup (dedup.duplicate_spans — NEW r6,
    driver row r6): a fixed 10-token phrase is planted onto every 7th
    document; the op returns the merged token spans every non-canonical
    occurrence must cut (keep = (min id, min pos)). DuckDB replays
    window-hash counting, canonical ranking, and gaps-and-islands span
    merging op-for-op (md5 gram family).

    r7 fold (VERDICT r6 #2): the REWRITE half —
    ``remove_duplicate_spans`` — rides the same row as a second tagged
    leg: every document that owns a span is emitted with its span-cut,
    space-rejoined text, so the hash compare pins the user-visible
    corpus rebuild, not just span detection (untouched docs are the
    trivial identity branch). DuckDB rebuilds via list_filter over the
    token index range against the doc's merged spans."""
    d = _t(spark, sf, "documents")
    phrase = " zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10"
    planted = d.select(
        F.col("doc_id"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(phrase)))
        .otherwise(F.col("text")).alias("text"))
    spans = dedup.duplicate_spans(planted, "text", "doc_id", window=8,
                                  hash_family="md5")
    spans_leg = spans.select(
        F.lit("spans").alias("leg"), "doc_id",
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        F.lit(None).cast("string").alias("s"))
    rewritten = dedup.remove_duplicate_spans(
        planted, "text", "doc_id", spans=spans)
    rew_leg = (rewritten
               .join(spans.select("doc_id").distinct(), "doc_id", "left_semi")
               .select(F.lit("rewrite").alias("leg"), "doc_id",
                       F.lit(None).cast("long").alias("start"),
                       F.lit(None).cast("long").alias("end"),
                       F.col("text").alias("s")))
    return spans_leg.unionByName(rew_leg)


def q_boilerplate(spark, sf):
    """Cross-document boilerplate census (pipeline.boilerplate_lines —
    NEW r6, driver row r6): two banner lines synthesized onto thirds/
    quarters of the corpus (documents text is verified single-line at
    every sf); the census must count DISTINCT docs per repeated line
    (per-doc array_distinct), gate short lines, and threshold at
    min_docs. DuckDB replays it exactly.

    r7 fold (VERDICT r6 #2): the REWRITE half —
    ``remove_boilerplate_lines`` — rides as a second tagged leg: every
    document whose text CHANGED under the strip is emitted with its
    stripped, newline-rejoined text (docs losing every line come back
    as ''), so the hash compare pins the user-visible corpus rebuild,
    not just the census. DuckDB replays the census anti-filter and the
    order-preserving line re-join."""
    from eel_sdk_spark.functions.pipeline import (boilerplate_lines,
                                                  remove_boilerplate_lines)

    d = _t(spark, sf, "documents")
    a = "Accept all cookies to continue reading this excellent site"
    b = "Subscribe to the newsletter | Home | About | Contact"
    lined = d.select(
        F.col("doc_id"),
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit("\n"), F.lit(a))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit("\n"), F.lit(b), F.lit("\n"),
                            F.lit(b))).otherwise(F.lit("")))
        .alias("text"))
    census = boilerplate_lines(lined, min_docs=50)
    census_leg = census.select(
        F.lit("census").alias("leg"), "line_hash",
        F.col("n_docs").cast("long").alias("n_docs"), "line",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("s"))
    stripped = remove_boilerplate_lines(lined, min_docs=50,
                                        boilerplate=census)
    strip_leg = (stripped.alias("r")
                 .join(lined.select("doc_id",
                                    F.col("text").alias("__orig")),
                       "doc_id")
                 .filter(F.col("r.text") != F.col("__orig"))
                 .select(F.lit("strip").alias("leg"),
                         F.lit(None).cast("string").alias("line_hash"),
                         F.lit(None).cast("long").alias("n_docs"),
                         F.lit(None).cast("string").alias("line"),
                         "doc_id", F.col("r.text").alias("s")))
    return census_leg.unionByName(strip_leg)


def q_explode_tokens(spark, sf):
    """explode + token census, plus the r8 'bpe' leg (VERDICT r7 #4 —
    the last-but-one pytest-only op folded onto the hash): per-doc BPE
    token counts under a FIXED hand-pinned 2-merge model
    (t+h, e+r</w>). The closed form the oracle replays: a word's token
    count = chars - [non-final 'th' pairs] - [ends with 'er'], exact
    for THIS model because the two merges can never interact (no 'e'
    ever enters a 'th' symbol) and the end-of-word fusion blocks 'th'
    merges whose h is the final character. The distributed encoder
    (functions/bpe.py token_counts: mapInArrow + per-batch word memo,
    greedy lowest-rank-first replay) must reproduce it doc-exact; the
    general trained-model path stays pinned in tests/test_bpe.py."""
    from eel_sdk_spark.functions.bpe import token_counts

    d = _t(spark, sf, "documents")
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    top = (toks.groupBy("tok").agg(F.count("*").alias("n"))
           .orderBy(F.desc("n"), F.col("tok")).limit(20)
           .select(F.lit("top").alias("leg"), "tok", "n"))
    model = {"merges": [["t", "h"], ["e", "r</w>"]], "eow": "</w>",
             "lowercase": False}
    bpe = (token_counts(d, model, "text", "doc_id")
           .select(F.lit("bpe").alias("leg"),
                   F.col("doc_id").cast("string").alias("tok"),
                   F.col("n_bpe_tokens").alias("n")))
    return top.unionByName(bpe)


def q_pivot_case(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.sum(F.when(F.col("l_linestatus") == "O",
                                      F.col("l_quantity")).otherwise(0.0)), 2)
                 .alias("qty_open"),
                 F.round(F.sum(F.when(F.col("l_linestatus") == "F",
                                      F.col("l_quantity")).otherwise(0.0)), 2)
                 .alias("qty_finished")))


def q_grouping_sets(spark, sf):
    """rollup + cube folded into ONE grouping-sets row (r6 fold,
    VERDICT r5 #1): BOTH operators run — ``DataFrame.rollup`` and
    ``DataFrame.cube`` over (l_returnflag, l_linestatus), tagged by
    semantic — so the hash compare validates each operator's exact
    grouping-set expansion (rollup: {(rf,ls),(rf),()}; cube adds (ls))."""
    li = _t(spark, sf, "lineitem")

    def _shape(grouped, sem):
        return (grouped
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("l_quantity"), 2).alias("qty"))
                .select(F.lit(sem).alias("sem"),
                        F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                        F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                        "n", "qty"))

    ru = _shape(li.rollup("l_returnflag", "l_linestatus"), "rollup")
    cu = _shape(li.cube("l_returnflag", "l_linestatus"), "cube")
    return ru.unionByName(cu)


def q_window_running(spark, sf):
    o = _t(spark, sf, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2).alias("running"))


def q_join_shapes(spark, sf):
    """concat (positional zip, DataStream.scala concat) + cartesian
    folded into ONE row (r6 third fold, same tagged-leg contract):
    both non-equi join shapes run and every produced pair rides the
    hash compare."""
    n = DataStream(_t(spark, sf, "nation").select("n_nationkey", "n_name"))
    r = DataStream(_t(spark, sf, "region").select("r_regionkey", "r_name"))
    zipped = (n.concat_zip(r, order_left="n_nationkey",
                           order_right="r_regionkey")
              .projection("n_name", "r_name").df
              .select(F.lit("zip").alias("leg"),
                      F.col("n_name").alias("a"),
                      F.col("r_name").alias("b")))
    r2 = DataStream(_t(spark, sf, "region").select("r_name"))
    n2 = DataStream(_t(spark, sf, "nation").select("n_name"))
    cart = (r2.cartesian(n2).df
            .select(F.lit("cartesian").alias("leg"),
                    F.col("r_name").alias("a"),
                    F.col("n_name").alias("b")))
    return zipped.unionByName(cart)


def q_lm_score(spark, sf):
    """N-gram LM perplexity scoring (functions/lm.py — NEW r6, driver
    row r6): bigram stupid-backoff model trained on the even-id half of
    documents, scoring the odd half. DuckDB replays count tables, log
    probabilities, backoff coalescing, and the per-doc average
    op-for-op (the model IS two SQL-replayable tables — the design
    point)."""
    from eel_sdk_spark.functions import lm as L

    d = _t(spark, sf, "documents")
    model = L.train_ngram_lm(d.filter(F.col("doc_id") % 2 == 0))
    return L.lm_score(d.filter(F.col("doc_id") % 2 == 1), model)


def q_asof_join(spark, sf):
    """As-of join (union + partitioned running-last window — one shuffle,
    no range explosion) vs DuckDB's native ASOF JOIN: for each click, the
    user's latest purchase at or before it."""
    from eel_sdk_spark.ops import as_of_join

    e = _t(spark, sf, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id"))
    purch = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", F.col("ts").alias("pts"),
                     F.round("value", 2).alias("pvalue")))
    j = as_of_join(clicks, purch, on="user_id",
                   left_ts="ts", right_ts="pts")
    return j.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("click_us"),
        F.unix_micros(F.col("pts").cast("timestamp")).alias("purchase_us"),
        "pvalue")


def q_range_join(spark, sf):
    """Bucketized interval join (clicks within 20min after a signup) —
    equi-join on (key, time bucket) + residual filter, never a per-key
    nested loop."""
    from eel_sdk_spark.ops import range_join

    e = _t(spark, sf, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    signups = (e.filter(F.col("event_type") == "signup")
               .select("user_id", F.col("event_id").alias("signup_id"),
                       F.col("ts").alias("w_start"),
                       (F.col("ts") + F.expr("INTERVAL 20 MINUTES"))
                       .alias("w_end")))
    j = range_join(clicks, signups, on="user_id", ts_col="ts",
                   start_col="w_start", end_col="w_end",
                   bucket="20 minutes")
    return j.select("click_id", "signup_id")


def q_string_funcs(spark, sf):
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.trim(F.lit("  x  ")).alias("trimmed"))


def q_price_histogram(spark, sf):
    """Expression-bucketed histogram, with the former standalone
    ``having`` row folded in as a second tagged leg (r6 fold): the
    per-custkey aggregate keeps its post-aggregation filter
    (groupBy->agg->filter == HAVING), reshaped to the histogram's
    columns. Both legs' exact values ride one hash compare."""
    o = _t(spark, sf, "orders")
    bucket = (F.when(F.col("o_totalprice") < 50_000, "lo")
              .when(F.col("o_totalprice") < 150_000, "mid")
              .otherwise("hi"))
    hist = (o.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("o_totalprice"), 4).alias("val"))
            .select(F.lit("hist").alias("leg"), "bucket", "n", "val"))
    having = (o.groupBy("o_custkey")
              .agg(F.count("*").alias("n"),
                   F.round(F.sum("o_totalprice"), 2).alias("val"))
              .filter(F.col("n") >= 5)
              .select(F.lit("having").alias("leg"),
                      F.col("o_custkey").cast("string").alias("bucket"),
                      "n", "val"))
    return hist.unionByName(having)


def q_map_rows(spark, sf):
    """Generic vectorized row transform (DataStream.map): logic not
    expressed as Column expressions — pandas per Arrow batch, zero
    per-row Python."""
    import pandas as pd

    d = _t(spark, sf, "documents")

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "n_chars": pdf["text"].str.len().astype("int64"),
            "shout": pdf["lang"].str.upper(),
        })

    return (DataStream(d.select("doc_id", "text", "lang"))
            .map(fn, "doc_id bigint, n_chars bigint, shout string").df)


def q_dedup_exact(spark, sf):
    """r7 fold: the simhash_md5 row rides here as a second leg (both
    are per-document fingerprint passes over the same corpus scan).
    simhash signatures are compared as STRINGS — a nullable int64
    column would materialize float64 in pandas and lose exactness
    above 2^53.

    r9 (guide §2.3 "do fewer passes"): the two legs used to be a UNION
    of two independent subtrees — the corpus was scanned and exchanged
    TWICE (once for the JVM md5 groupBy, once for the simhash kernel).
    Both fingerprints now come from ONE ``md5_fp_simhash`` Arrow pass
    and the union is a GROUPING SETS over its (tiny) output: set (fp)
    is the exact leg's aggregation, set (doc_id, simhash) is the
    per-doc simhash leg; ``grouping(fp)`` tags the legs and the
    ``simhash IS NOT NULL`` filter reproduces the kernel's emit-no-row
    semantics for token-less docs. Values are byte-identical to the
    old legs (hashlib md5 hex == Spark md5; kernel == simhash_md5);
    measured sf1-equivalent 0.89 s -> see OPTIMIZATION_r09.md."""
    d = _t(spark, sf, "documents")
    k = dedup.md5_fp_simhash(d, "text", "doc_id")
    g = (k.groupingSets([["fp"], ["doc_id", "simhash"]],
                        "fp", "doc_id", "simhash")
         .agg(F.count("*").alias("__n"), F.min("doc_id").alias("__keep"),
              F.grouping("fp").alias("__gfp")))
    exact = F.col("__gfp") == 0
    return (g.filter(exact | F.col("simhash").isNotNull())
            .select(
                F.when(exact, F.lit("exact")).otherwise(F.lit("simhash"))
                .alias("leg"),
                F.when(exact, F.col("fp")).alias("fp"),
                F.when(exact, F.col("__n")).alias("n_dups"),
                F.when(exact, F.col("__keep")).alias("keep_id"),
                F.when(~exact, F.col("doc_id")).alias("doc_id"),
                F.when(~exact, F.col("simhash").cast("string"))
                .alias("simhash")))


def q_minhash_pairs(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.minhash_candidate_pairs(d, "text", "doc_id",
                                         n_hashes=4, band_size=2)


def q_jaccard_pairs(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.2,
                               n_hashes=4, band_size=2)


def q_dup_clusters(spark, sf):
    """Connected components over verified near-dup pairs: exact
    keep-one-per-cluster dedup even when duplicates chain (a~b, b~c
    without a~c). Iterative min-label propagation on Spark vs a recursive
    CTE in DuckDB."""
    d = _t(spark, sf, "documents")
    pairs = dedup.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.2,
                                n_hashes=4, band_size=2).select("a", "b")
    return dedup.connected_components(pairs)


def q_clean_corpus(spark, sf):
    """The full training-data cleanup pipeline in ONE oracle-checked plan:
    exact dedup -> LSH near-dup removal (jaccard-verified) -> quality
    filter -> deterministic split assignment."""
    from eel_sdk_spark.functions.pipeline import clean_corpus

    d = _t(spark, sf, "documents")
    out = clean_corpus(d, "text", "doc_id",
                       near_dup_threshold=0.5, n_hashes=4, band_size=2,
                       min_quality=0.3, splits=[80, 10, 10],
                       split_labels=["train", "val", "test"])
    return out.select("doc_id", "lang", "split")


def q_text_metrics(spark, sf):
    """The whole per-document text-analysis panel in ONE pass — token
    count, punctuation/stopword ratios, Gopher-style repetition, quality
    score, n-gram lang-id, BPE-ish token count, md5 fingerprint. The hash
    compare validates every scalar function's exact values per doc; one
    scan instead of seven (also the shape a real pipeline runs: compute
    all signals in a single pass over the corpus). (hash_split routing is
    gate-checked inside clean_corpus, which assigns splits the same way.)"""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.round(T.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        F.round(T.stopword_ratio(F.col("text")), 4).alias("stop_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("lang_guess"),
        F.round(T.dup_token_ratio(F.col("text")), 4).alias("dup_ratio"),
        T.token_count_bpe(F.col("text")).alias("n_bpe"),
        T.fingerprint_md5(F.col("text")).alias("fp16"))


def q_html_extract(spark, sf):
    """HTML extraction panel (functions/html.py — NEW r5, driver row r6)
    over deterministic markup synthesized from the documents table (the
    url_hygiene trick): title with single- AND double-escaped entities
    (pinning the r6 unescape order: '&amp;lt;' -> '&lt;', never '<'),
    visible-text length after script/style/comment stripping, resolved
    outlinks (fragment/javascript dropped, path and absolute forms),
    canonical URL, and text density. The DuckDB twin replays the regex
    chain mechanically, in the same order."""
    from eel_sdk_spark.functions import html as H

    d = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    h = F.concat(
        F.lit("<html><head><title> Doc "), did,
        F.lit(" &amp; more &amp;lt;tag&amp;gt; </title>"),
        F.lit('<link rel="canonical" href="https://c.example/'), did,
        F.lit('"><style>p { color: red }</style>'
              "<script>var x = 1 < 2;</script></head><body>"
              "<!-- hidden <b>comment</b> --><h1>Header "),
        F.col("source"), F.lit("</h1><p>"), F.col("text"),
        F.lit('</p><a href="/l/'), did,
        F.lit('">x</a><a href="#frag">y</a>'
              '<a href="javascript:void(0)">z</a>'
              '<a href="https://other.example/abs">w</a></body></html>'))
    return d.select(
        "doc_id",
        H.html_title(h).alias("title"),
        F.length(H.extract_text(h)).alias("text_len"),
        F.concat_ws(",", H.extract_links(h, F.lit("h.example")))
        .alias("links"),
        H.canonical_url(h).alias("canon"),
        H.text_density(h).alias("density"))


def q_incremental_dedup(spark, sf):
    """Append-batch dedup against a persisted signature store
    (dedup.signature_store + incremental_dup_ids — NEW r5, driver row
    r6). Store = the documents table's fp+minhash rows; batch = a
    deterministic mutation (ids shifted by 1e6; every 5th doc keeps its
    text — an exact dup against the store; every 5th+1 appends tokens —
    a near-dup band-collision candidate; the rest get per-doc unique
    text). Returns the flagged batch ids; DuckDB replays fp match +
    band collision + within-batch checks op-for-op.

    r7 adds the PERSISTED leg (compact_store driver evidence, VERDICT
    r6 #5): the same signature rows land in a throwaway ManifestTable
    via two OVERLAPPING epoch commits (doc_id%3 != 0 then != 1 — the
    residue-2 third is committed twice, exactly the fp-duplicate
    accumulation compaction exists for), compact_store rewrites the
    store, and the flags are recomputed from the compacted table. The
    oracle emits the SAME replayed flag set under both tags, so the
    hash compare proves append->compact->read-back changes nothing."""
    import tempfile

    from eel_sdk_spark.streaming.pipeline import compact_store
    from eel_sdk_spark.table import ManifestTable

    d = _t(spark, sf, "documents")
    store = dedup.signature_store(d, "text", "doc_id", n_hashes=4)
    did = F.col("doc_id").cast("string")
    batch = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.when(F.col("doc_id") % 5 == 0, F.col("text"))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.col("text"), F.lit(" extra extra extra")))
        .otherwise(F.concat(F.lit("u"), did, F.lit(" v"), did,
                            F.lit(" w"), did, F.lit(" x"), did,
                            F.lit(" y"), did)).alias("text"))

    def flags(st):
        return dedup.incremental_dup_ids(batch, st, "text", "doc_id",
                                         n_hashes=4, band_size=2,
                                         max_bucket=None)

    tbl = ManifestTable(tempfile.mkdtemp(prefix="eel_gate_store_"), "sigs")
    for i, part in enumerate((d.filter(F.col("doc_id") % 3 != 0),
                              d.filter(F.col("doc_id") % 3 != 1))):
        sigs = dedup.signature_store(part, "text", "doc_id", n_hashes=4)
        job = tbl.new_data_path()
        sigs.write.mode("overwrite").parquet(job)
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in sigs.schema.fields)
        tbl.commit(ManifestTable.list_written_files(job), ddl,
                   {"epoch.dedup": i}, mode="append")
    compact_store(spark, tbl, id_col="doc_id")
    mem = flags(store).select(F.lit("mem").alias("leg"), "doc_id")
    post = (flags(tbl.read(spark))
            .select(F.lit("store").alias("leg"), "doc_id"))
    return mem.unionByName(post)


def q_logreg_score(spark, sf):
    """Distributed quality-classifier SCORING surface
    (functions/classifier.py — NEW r5, driver row r6): P(quality) under
    a FIXED literal model over unrounded text metrics. Training is
    pinned to a numpy replica in pytest (test_classifier.py); the gate
    row validates the scoring arithmetic — standardization, weighted
    sum, sigmoid — op-for-op against DuckDB."""
    from eel_sdk_spark.functions.classifier import logreg_score

    model = {"features": ["f_log_tokens", "f_punct", "f_stop", "f_dup"],
             "w": [0.8, -2.0, 1.5, -1.0], "b": -0.25,
             "means": [3.0, 0.05, 0.2, 0.3],
             "stds": [1.0, 0.05, 0.1, 0.25]}
    d = _t(spark, sf, "documents")
    feats = d.select(
        "doc_id",
        F.log1p(T.token_count(F.col("text"))).alias("f_log_tokens"),
        T.punct_ratio(F.col("text")).alias("f_punct"),
        T.stopword_ratio(F.col("text")).alias("f_stop"),
        T.dup_token_ratio(F.col("text")).alias("f_dup"))
    return feats.select(
        "doc_id", F.round(logreg_score(model), 4).alias("quality_prob"))


def _query_vec(spark, sf):
    """One query vector from the embeddings table. Read with pyarrow
    directly (r9): the value is a single row consumed driver-side to
    build a literal expression, and launching a Spark job (scan +
    filter + collect) for it cost 0.17 s of every ann_batch build —
    a footer-pruned local read is single-digit ms. Still computed from
    the parquet input on every call (nothing is memoized)."""
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{sf}/embeddings.parquet",
                       columns=["vec_id", "embedding"],
                       filters=[("vec_id", "==", 0)])
    return [float(x) for x in t.column("embedding")[0].as_py()]


def q_label_centroids(spark, sf):
    """Per-label embedding centroids, long format — only (label, pos,
    partial sum) triples shuffle, never vectors."""
    emb = _t(spark, sf, "embeddings")
    return similarity.label_centroids(emb, "label", "embedding")


def q_vec_norms(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return emb.select(
        "vec_id", F.round(similarity.l2_norm(F.col("embedding")), 4)
        .alias("l2"))


def q_mix_sources(spark, sf):
    """Data mixing: resample the two lexicographically-smallest sources
    to a 3:1 target mixture. Membership is a deterministic md5 bucket of
    the doc id (never RNG), so DuckDB replays the EXACT kept set — the
    hash compare validates per-document membership, not just counts.

    r7 fold: weighted_sample (quality-weighted deterministic
    downsampling — pytest-only until now) rides as a second tagged leg
    over a cubed-length weight with planted nulls. At both gate sfs the
    weight exercises ALL THREE branches (clamp saturation ~20% of rows,
    null/zero never-kept ~1%, and the under-fill boost rescale: the
    clamped expectation is ~0.43 < the 0.5 target); the oracle replays
    the two aggregate passes, the driver-side boost arithmetic, and the
    md5-bucket membership op-for-op. The weight is an exact integer
    cube cast to double (not pow()) so both engines compute identical
    weights bit-for-bit."""
    from eel_sdk_spark.functions.pipeline import mix_sources, weighted_sample

    d = _t(spark, sf, "documents")
    a, b = sorted(r[0] for r in
                  d.select("source").distinct().collect())[:2]
    out = mix_sources(d.filter(F.col("source").isin(a, b)),
                      "source", {a: 3.0, b: 1.0})
    mix = out.select(F.lit("mix").alias("leg"), "doc_id", "source")
    weighted = d.withColumn(
        "w", F.when(F.col("doc_id") % 97 == 0, F.lit(None)).otherwise(
            (F.col("n_chars") * F.col("n_chars") * F.col("n_chars"))
            .cast("double")))
    ws = (weighted_sample(weighted, "w", 0.5)
          .select(F.lit("wsample").alias("leg"), "doc_id", "source"))
    return mix.unionByName(ws)


def q_ann_batch(spark, sf):
    """Many query vectors, one corpus pass: only (qid, id, cos) shuffles.
    qid 0 is answered by the SINGLE-query ``brute_force_topk`` path
    (TakeOrderedAndProject — the former standalone ann_brute gate row,
    folded in here so both ANN entry points stay hash-validated in one
    row; exactness of the fold: a one-query batch IS the brute scan)."""
    emb = _t(spark, sf, "embeddings")
    brute0 = (similarity.brute_force_topk(emb, "vec_id", "embedding",
                                          _query_vec(spark, sf), k=5)
              .select(F.lit(0).cast("long").alias("qid"), "vec_id", "cos"))
    queries = (emb.filter(F.col("vec_id").isin(1, 2))
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    batched = similarity.batch_topk(emb, queries, "vec_id", "embedding",
                                    "qid", "qvec", k=5)
    return brute0.unionByName(batched)


def q_semantic_dedup(spark, sf):
    """SemDeDup with an EXPLICIT 8-centroid codebook (the raw embeddings
    of vec_id 0..7) so DuckDB can replay the exact pipeline: per-row cell
    assignment = argmax of centroid dot products (first-max tie-break ==
    array_position/list_position on both engines), within-cell cosine
    dominance at threshold 0.3 (the synthetic corpus has no planted
    near-dups — 0.95 would compare empty sets, a vacuous oracle), and
    survivors returned. max_cell=None: the degenerate-bucket guard is
    exercised adversarially in tests/test_similarity.py; here every cell
    participates so the oracle covers the full dominance computation."""
    import numpy as np

    emb = _t(spark, sf, "embeddings")
    seeds = (emb.filter(F.col("vec_id") < 8).orderBy("vec_id")
             .select("embedding").collect())
    cents = np.array([[float(x) for x in r[0]] for r in seeds])
    out = dedup.semantic_dedup(emb, "vec_id", "embedding",
                               threshold=0.3, max_cell=None,
                               centroids=cents)
    ded = out.select(F.lit("dedup").alias("leg"), "vec_id", "label",
                     F.lit(None).cast("int").alias("cell"),
                     F.lit(None).cast("int").alias("pos"),
                     F.lit(None).cast("double").alias("m"))
    # r8 'kmeans' leg (VERDICT r7 #4 — the last pytest-only op folded
    # onto the hash): ONE Lloyd step with the SAME explicit 8-vector
    # codebook — assignment (argmax dot, first-max tie-break: oracle
    # precedent above) then the map-side-combinable posexplode →
    # groupBy(cell, pos).avg that functions/similarity.kmeans iterates;
    # the per-(cell, dim) means are the updated centroid matrix, hash-
    # compared component-exact (round 4, the row's established float
    # discipline). Full multi-iteration training + recall stays pinned
    # in tests/test_similarity.py.
    from eel_sdk_spark.functions.similarity import assign_cells

    km = (assign_cells(emb, cents, "embedding")
          .select("cell", F.posexplode("embedding").alias("pos", "v"))
          .groupBy("cell", "pos")
          .agg((F.round(F.avg(F.col("v").cast("double")), 4) + 0.0)
               .alias("m"))  # +0.0 normalizes -0.0 (sorted-compare hash)
          .select(F.lit("kmeans").alias("leg"),
                  F.lit(None).cast("bigint").alias("vec_id"),
                  F.lit(None).cast("int").alias("label"),
                  F.col("cell").cast("int").alias("cell"),
                  F.col("pos").cast("int").alias("pos"), "m"))
    return ded.unionByName(km)


def q_url_hygiene(spark, sf):
    """Crawl URL hygiene panel over synthesized (deterministic) URLs:
    host extraction, fixed-depth registered-domain as a grouping key,
    and the all-suffix deny-list flag — the blocklist entry
    'src0.example.co.uk' must block exactly that site and its subdomains
    while sibling .co.uk domains survive (the ccTLD sharp edge the
    suffix matching exists for). Pure Column algebra, replayed op-for-op
    in DuckDB SQL."""
    from eel_sdk_spark.functions import text as T

    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www."))
        .when(F.col("doc_id") % 3 == 1, F.lit("cdn.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".example"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 4 == 1, F.lit(".com"))
        .when(F.col("doc_id") % 4 == 2, F.lit(".org"))
        .otherwise(F.lit(".net")),
        F.lit("/p/"), F.col("doc_id"))
    blocklist = ["src0.example.co.uk", "src1.example.com"]
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        T.url_host(F.col("url")).alias("host"),
        T.registered_domain(F.col("url")).alias("dom2"),
        T.is_blocked_domain(F.col("url"), blocklist).alias("blocked"))


def q_embedding_lsh_near_dups(spark, sf):
    # threshold 0.3: the synthetic embeddings carry no planted near-dups
    # (max pairwise cosine 0.51 at sf0.01) — higher thresholds compare
    # empty sets, a vacuous oracle; 0.3 yields a real result set (17 rows)
    emb = _t(spark, sf, "embeddings")
    return dedup.embedding_near_dups(emb, "vec_id", "embedding",
                                     threshold=0.3, n_planes=8,
                                     plane_hash="md5")


def q_ann_ivf(spark, sf):
    """Expected-result oracle: with a full probe (n_probe == n_list) the
    IVF path must return exactly the brute-force top-k — the oracle is
    the brute-force SQL, so the cell assignment + pruning machinery is
    hash-compared, not just row-counted. Recall at n_probe < n_list is
    asserted separately in tests/test_similarity.py."""
    emb = _t(spark, sf, "embeddings")
    return similarity.ivf_topk(emb, "vec_id", "embedding",
                               _query_vec(spark, sf), k=10,
                               n_list=8, n_probe=8)


def q_multimodal_frames(spark, sf):
    """Multimodal plumbing in one gate row: typed metadata extraction
    (media_metadata) joined onto the 1->N frame-sampling fan-out
    (sample_frames) — vectorized row expansion inside the Arrow batch,
    fully oracle-replayable since the fake frame geometry is a pure
    function of byte length.

    r7 fold: the media_features row (binary -> fixed-dim feature
    vectors; the histogram fake is not SQL-expressible, so the oracle
    states the PURITY property -- identical blobs yield identical
    feature vectors) rides as a second tagged leg."""
    d = _t(spark, sf, "documents")
    blob = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("blob"))
    meta = multimodal.media_metadata(blob, "doc_id", "blob")
    frames = multimodal.sample_frames(blob, "doc_id", "blob", every=2)
    frames_leg = frames.join(meta, "doc_id").select(
        F.lit("frames").alias("leg"),
        "doc_id", "frame_idx", "frame_off",
        "n_bytes", "fake_width", "fake_height", "fake_frames")
    feats = multimodal.extract_features(blob, "doc_id", "blob", dim=16)
    j = (d.select(F.md5(F.encode(F.col("text"), "utf-8")).alias("fp"),
                  "doc_id")
         .join(feats, "doc_id"))
    per = j.groupBy("fp").agg(
        F.count_distinct(F.col("features").cast("string")).alias("nd"))
    feat_leg = (per.agg(F.count("*").alias("n_groups"),
                        F.sum(F.when(F.col("nd") == 1, 1).otherwise(0))
                        .alias("n_consistent"))
                .select(F.lit("features").alias("leg"),
                        F.col("n_groups").cast("long").alias("doc_id"),
                        F.lit(None).cast("int").alias("frame_idx"),
                        F.col("n_consistent").cast("long")
                        .alias("frame_off"),
                        F.lit(None).cast("long").alias("n_bytes"),
                        F.lit(None).cast("int").alias("fake_width"),
                        F.lit(None).cast("int").alias("fake_height"),
                        F.lit(None).cast("int").alias("fake_frames")))
    return frames_leg.unionByName(feat_leg)


def q_events_window(spark, sf):
    e = _t(spark, sf, "events")
    win = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
    return (e.groupBy(win.alias("win_start"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sv")))


def q_json_extract(spark, sf):
    """Semi-structured payloads: JSON field extraction (§2.7 superset —
    the reference has no json functions at all)."""
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy(k.alias("k")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))


def q_sessionization(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond epochs: unix_timestamp() truncates to whole seconds and
    # every event ts is fractional, so gaps within 1s of the threshold
    # would flip the session-break bit vs the oracle's epoch() math
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ep - F.lag(ep).over(w)
    brk = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (e.select("user_id", brk.alias("brk"))
            .groupBy("user_id").agg(F.sum("brk").alias("n_sessions")))


def q_session_stats(spark, sf):
    """Native session_window (streaming-capable, batch twin here): session
    bounds as epoch-micros so the compare is tz-free."""
    from eel_sdk_spark.streaming.pipeline import session_aggregate

    e = _t(spark, sf, "events")
    s = session_aggregate(e, ts_col="ts", key_col="user_id",
                          gap="30 minutes", value_col="value")
    return s.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("s_start"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("s_end"),
        "n_events", "sv")


def q_roundtrip_verify(spark, sf):
    """Codec roundtrip + (r7) the integrity tier as tagged literal legs:
    a freshly committed table must fsck healthy, and a single flipped
    payload byte must be caught by the per-block payload_crc (the
    oracle states the expected verdicts — same purity-property pattern
    as media_features)."""
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from eel_sdk_spark.checkpoint import fsck, fsck_summary
    from eel_sdk_spark.encode import (BLOCK_SCHEMA_DDL, decode_blocks_df,
                                      encode_df)
    from eel_sdk_spark.table import ManifestTable

    d = _t(spark, sf, "documents")
    blocks = encode_df(d, key="doc_id", n_parts=8)
    decoded = decode_blocks_df(
        blocks, "doc_id bigint, text string, lang string, source string, "
                "n_chars bigint")

    tmp = tempfile.mkdtemp(prefix="eel_gate_crc_")
    try:
        tbl = ManifestTable(tmp, "rt")
        job_dir = tbl.new_data_path()
        encode_df(d, key="doc_id", n_parts=4) \
            .write.mode("overwrite").parquet(job_dir)
        tbl.commit(ManifestTable.list_written_files(job_dir),
                   BLOCK_SCHEMA_DDL)
        fsck_healthy = fsck_summary(fsck(spark, tbl))["healthy"]
        # r7 rename leg: a properties-only column rename must decode
        # value-exact under the NEW name (manifest name mapping — the
        # blocks still carry 'lang'); rename_ok counts rows whose
        # renamed column round-trips eqNullSafe against the raw table
        tbl.rename_column("lang", "language")
        renamed = tbl.read_decoded(
            spark, "doc_id bigint, language string")
        rename_ok = int(
            renamed.alias("r").join(d.alias("o"), "doc_id")
            .filter(F.col("r.language").eqNullSafe(F.col("o.lang")))
            .count() == d.count())
        victim = next(f for f in sorted(tbl.current().files)
                      if _pq.ParquetFile(f).metadata.num_rows > 0)
        t = _pq.read_table(victim)
        pl = t.column("payload").to_pylist()
        # some blocks carry header-only payloads (e.g. all-null) — flip
        # a byte in the first payload that has one
        vi = next(i for i, p in enumerate(pl) if p)
        flipped = bytearray(pl[vi])
        flipped[len(flipped) // 2] ^= 0xFF
        pl[vi] = bytes(flipped)
        _pq.write_table(t.set_column(
            t.schema.get_field_index("payload"), "payload",
            _pa.array(pl, type=_pa.binary())), victim)
        s2 = fsck_summary(fsck(spark, tbl))
        tamper_detected = (not s2["healthy"]
                           and s2["blocks_bad_crc"] >= 1)
        # r8 widen leg: type promotion (ManifestTable.widen_column,
        # int -> bigint) is properties-only; the decode kernel
        # safe-casts the old int32 blocks up, so the read returns the
        # WIDENED type with every value exact against the raw table
        from eel_sdk_spark.checkpoint import encode_with_checkpoint

        t3 = ManifestTable(tmp, "wd")
        d3 = d.select(F.col("doc_id").cast("int").alias("small_id"),
                      "text")
        encode_with_checkpoint(spark, d3, t3, key="small_id", n_parts=4,
                               run_id="w1")
        t3.widen_column("small_id", "bigint")
        wdf = t3.read_decoded(spark)
        widen_ok = int(
            dict(wdf.dtypes)["small_id"] == "bigint"
            and wdf.alias("w")
            .join(d.alias("o"), F.col("w.small_id") == F.col("o.doc_id"))
            .filter(F.col("w.text").eqNullSafe(F.col("o.text")))
            .count() == d.count())
        # r8 datasource leg: the same widened table read through
        # Spark's OWN scan path — spark.read.format("eel") (Python
        # DataSource SPI, one partition per block file) must return
        # the widened type and every value exact, with zero
        # eel-specific code downstream of .load()
        from eel_sdk_spark.sources.eel_datasource import register

        register(spark)
        sdf = spark.read.format("eel").option("table", "wd").load(tmp)
        ds_ok = int(
            dict(sdf.dtypes)["small_id"] == "bigint"
            and sdf.alias("w")
            .join(d.alias("o"), F.col("w.small_id") == F.col("o.doc_id"))
            .filter(F.col("w.text").eqNullSafe(F.col("o.text")))
            .count() == d.count())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    j = decoded.alias("d").join(d.alias("o"), "doc_id")
    return (j.agg(
        F.count("*").alias("rows"),
        F.sum(F.when(F.col("d.text").eqNullSafe(F.col("o.text")), 1)
              .otherwise(0)).alias("text_ok"),
        F.sum(F.when(F.col("d.lang").eqNullSafe(F.col("o.lang")), 1)
              .otherwise(0)).alias("lang_ok"))
        .withColumn("fsck_healthy", F.lit(int(fsck_healthy)))
        .withColumn("tamper_detected", F.lit(int(tamper_detected)))
        .withColumn("rename_ok", F.lit(rename_ok))
        .withColumn("widen_ok", F.lit(widen_ok))
        .withColumn("ds_ok", F.lit(ds_ok)))


def q_roundtrip_tables(spark, sf):
    """Engine generality in ONE gate row: a TPC-H-shaped table (ints,
    doubles, strings, timestamp_ntz) AND a nested-type table
    (array<float> riding the Arrow-IPC plain codec) both encode/decode
    exactly through the full Spark pipeline."""
    from eel_sdk_spark.encode import decode_blocks_df, encode_df

    li = _t(spark, sf, "lineitem")
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in li.schema.fields)
    blocks = encode_df(li.withColumn(
        "rid", F.concat_ws("-", "l_orderkey", "l_linenumber")), key="rid",
        n_parts=8)
    decoded = decode_blocks_df(blocks, ddl + ", rid string").drop("rid")

    # order-free multiset equality: count + sum of whole-row hashes
    # (sum, not xor: xor would cancel duplicate rows pairwise)
    def sig(df):
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64(F.struct(*sorted(li.columns))),
                         F.lit(2147483647))).alias("h"))

    d, o = sig(decoded).first(), sig(li).first()

    emb = _t(spark, sf, "embeddings")
    eblocks = encode_df(emb, key="vec_id", n_parts=4)
    edecoded = decode_blocks_df(
        eblocks, "vec_id bigint, embedding array<float>, label int")
    j = edecoded.alias("d").join(emb.alias("o"), "vec_id")
    vec_eq = F.col("d.embedding").eqNullSafe(F.col("o.embedding"))
    lab_eq = F.col("d.label").eqNullSafe(F.col("o.label"))
    e = j.agg(F.count("*").alias("rows"),
              F.sum(F.when(vec_eq & lab_eq, 1).otherwise(0))
              .alias("vectors_ok")).first()
    return spark.createDataFrame(
        [(int(d["n"]), int(o["n"]), bool(d["n"] == o["n"]),
          bool(d["h"] == o["h"]), int(e["rows"]), int(e["vectors_ok"]))],
        "decoded_rows bigint, orig_rows bigint, rows_match boolean, "
        "content_match boolean, emb_rows bigint, vectors_ok bigint")


def q_gorilla_roundtrip(spark, sf):
    """Continuous float telemetry through the codec engine, exercising
    EVERY float path in one bit-exact roundtrip (routing verified:
    groupBy(col, codec) on the blocks): t_root = sqrt(epoch-micros) with
    the table sorted by it — full-precision, non-decimal, slowly varying
    = the Gorilla-XOR codec ('gor'); t_sec = micros/1e6 and value —
    decimals in disguise = ALP; event_id = FOR. The oracle states the
    expected verification result; selector routing unit tests live in
    tests/test_codecs.py."""
    from eel_sdk_spark.encode import decode_blocks_df, encode_df

    e = _t(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    sensor = e.select(
        "event_id",
        F.sqrt(us).alias("t_root"),
        (us / 1_000_000.0).alias("t_sec"),
        F.col("value"))
    blocks = encode_df(sensor, key="event_id", n_parts=4,
                       sort_by=["t_root"])
    decoded = decode_blocks_df(
        blocks, "event_id bigint, t_root double, t_sec double, value double")
    j = decoded.alias("d").join(sensor.alias("o"), "event_id")
    ok = (F.col("d.t_root").eqNullSafe(F.col("o.t_root"))
          & F.col("d.t_sec").eqNullSafe(F.col("o.t_sec"))
          & F.col("d.value").eqNullSafe(F.col("o.value")))
    return j.agg(F.count("*").alias("rows"),
                 F.sum(F.when(ok, 1).otherwise(0)).alias("vals_ok"))


def q_pagerank(spark, sf):
    """Host-graph PageRank (functions/graph.py — pytest-only until r7,
    VERDICT r6 #3): a fixed 5-iteration unweighted power loop with
    tol=0 (no early stop) over a deterministic 53-node host graph
    derived from doc_ids — src h(doc_id % 53) -> dst h(doc_id^2 % 53).
    Quadratic residues mod 53 cover only ~half the hosts, so many nodes
    have inlinks but no outlinks: the dangling-mass redistribution path
    is exercised, not just the join+sum. The DuckDB twin unrolls the
    same 5 rounds as chained CTEs (dangling scalar + contribution
    groupBy per round, op-for-op); ranks rounded to 9 dp — the per-host
    inflow sums are tiny (<= 53 terms), far inside double headroom."""
    from eel_sdk_spark.functions.graph import pagerank

    d = _t(spark, sf, "documents")
    edges = (d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 53)).alias("src_host"),
        F.concat(F.lit("h"), (F.col("doc_id") * F.col("doc_id") % 53))
        .alias("dst_host"))
        .filter(F.col("src_host") != F.col("dst_host"))
        .distinct())
    ranks = pagerank(edges, damping=0.85, max_iter=5, tol=0.0)
    return ranks.select("host", F.round("rank", 9).alias("rank"))


def q_range_lookup(spark, sf):
    """The encoded-table key-RANGE scan API (checkpoint.py range_lookup
    — measured-evidence-only until r7, VERDICT r6 #4): encode the
    documents table into a throwaway ManifestTable key-clustered on
    doc_id, then answer lower <= doc_id <= upper through the full
    three-tier prune (manifest file key-ranges -> block min/max ->
    residual filter). The oracle is a plain BETWEEN on the source table
    — the gate hash-compares the DECODED bytes that came back through
    the manifest + codec path against the raw parquet truth. File
    pruning itself is plan-asserted in tests/test_checkpoint.py.
    r7 delete leg: three doc_ids inside the range are tombstoned
    (deletes.delete_rows — metadata-only suppression) before the scan,
    so the oracle's NOT IN replays the suppression value-exact through
    the same decoded-bytes hash compare.
    r7 upsert + cdc legs (deletes.upsert_rows / table.read_appended):
    doc_ids 120/150/151 are re-crawled with 'UPD:'-prefixed text —
    120 is one of the tombstoned keys, so readmit=True exercises the
    tombstone-sidecar rewrite; the copy-on-write merge must land the
    fresh rows AND drop the stale ones atomically for the 'range' leg
    to hash. The 'cdc' leg goes through the exactly-once FOLLOWER
    (streaming/follow.py): a sink table is bootstrapped pre-upsert,
    one post-publish poll must materialize exactly the three incoming
    rows (replay poll asserted a no-op), and the leg decodes the
    SINK's appended window — a second encode/decode generation, so a
    duplicate, a leaked rewrite file, a follower cursor bug, or a
    read_appended miss all break the hash.
    r8 'ck' leg: COMPOSITE lineage keys — a second table keyed
    ["source", "doc_id"], a 2-col upsert, and three composite
    point_lookups (see the inline comment)."""
    import tempfile

    from eel_sdk_spark.checkpoint import encode_with_checkpoint, range_lookup
    from eel_sdk_spark.deletes import delete_rows, upsert_rows
    from eel_sdk_spark.table import ManifestTable

    d = _t(spark, sf, "documents")
    ddl = ("doc_id bigint, text string, lang string, source string, "
           "n_chars bigint")
    tbl = ManifestTable(tempfile.mkdtemp(prefix="eel_gate_rl_"), "docs")
    encode_with_checkpoint(spark, d, tbl, key="doc_id", n_parts=8,
                           run_id="gate", sort_by=["doc_id"])
    delete_rows(spark, tbl, [120, 200, 205], key="doc_id")
    cursor = tbl.current().snapshot_id
    # r7 follower routing (same oracle): bootstrap an exactly-once
    # follower sink BEFORE the upsert; after publish, ONE poll must
    # materialize exactly the incoming rows into the sink (offsets-in-
    # sink cursor, second encode/decode generation), and the cdc leg
    # reads the SINK's appended window — a duplicate, a leaked rewrite
    # file, or a cursor bug breaks the hash
    from eel_sdk_spark.streaming.follow import follow_once

    sink = ManifestTable(tempfile.mkdtemp(prefix="eel_gate_fl_"), "sink")
    follow_once(spark, tbl, sink, ddl)
    sink_cursor = sink.current().snapshot_id
    incoming = (d.filter(F.col("doc_id").isin(120, 150, 151))
                .withColumn("text", F.concat(F.lit("UPD:"), F.col("text"))))
    # r7 WAP routing (same oracle): the merge lands STAGED on a named
    # ref — main must still read pre-upsert until the staged snapshot
    # passes fsck and publish fast-forwards the pointer; a staged leak
    # into main (or a publish of a damaged snapshot) breaks the hash
    from eel_sdk_spark.checkpoint import fsck, fsck_summary

    upsert_rows(spark, tbl, incoming, ddl, readmit=True, stage="audit")
    assert tbl.current().snapshot_id == cursor, "staged upsert leaked"
    staged = tbl.resolve_ref("audit")
    assert fsck_summary(fsck(spark, tbl, snapshot_id=staged))["healthy"]
    tbl.publish("audit")
    rng = range_lookup(spark, tbl, 100, 260, ddl, key="doc_id")
    assert follow_once(spark, tbl, sink, ddl)["rows"] == 3
    assert follow_once(spark, tbl, sink, ddl)["rows"] == 0  # replay no-op
    cdc = sink.read_appended(spark, ddl, sink_cursor)
    # r8 COMPOSITE-KEY leg ('ck'): a second throwaway table keyed on
    # ["source", "doc_id"] (the reference's native multi-field row key,
    # Row.scala:19-24) — part ids hash BOTH columns, the manifest
    # records per-component key ranges, and a 2-col copy-on-write
    # upsert re-crawls doc_ids 300/301/302 before three composite
    # point_lookups fetch exactly the merged tuples through the
    # per-component range+bloom prune intersection. A tuple-hash
    # mismatch between encoder and lookup, a component dropped from
    # the anti-join, or a stale pre-merge row all break the hash.
    from functools import reduce as _red

    from eel_sdk_spark.checkpoint import point_lookup

    tbl2 = ManifestTable(tempfile.mkdtemp(prefix="eel_gate_ck_"), "docs")
    encode_with_checkpoint(spark, d, tbl2, key=["source", "doc_id"],
                           n_parts=8, run_id="gate-ck")
    picked = (d.filter(F.col("doc_id").isin(300, 301, 302))
              .select("source", "doc_id").collect())
    inc2 = (d.filter(F.col("doc_id").isin(300, 301, 302))
            .withColumn("text", F.concat(F.lit("UPD2:"), F.col("text"))))
    out2 = upsert_rows(spark, tbl2, inc2, ddl)
    assert out2["replaced_rows"] == 3, "composite upsert missed rows"
    ck = _red(lambda a, b: a.unionByName(b),
              [point_lookup(spark, tbl2, (r["source"], r["doc_id"]),
                            ddl, key=["source", "doc_id"])
               for r in picked])
    return (rng.withColumn("leg", F.lit("range"))
            .unionByName(cdc.withColumn("leg", F.lit("cdc")))
            .unionByName(ck.withColumn("leg", F.lit("ck")))
            .select("leg", "doc_id", "text", "lang", "source", "n_chars"))


def q_pack_sequences(spark, sf):
    """Training-sequence packing (functions/packing.py — pytest-only
    until r7): greedy next-fit over (doc_id, n_chars) on ONE sorted
    partition, so the per-partition numpy kernel's exact pack
    assignment is deterministic and the DuckDB twin can replay it with
    a sequential recursive CTE (same recurrence: close the open pack
    when the next doc overflows, oversized docs ride alone, flush at
    exactly-full). Multi-partition behavior (pack ids namespaced by
    partition, searchsorted batching) is pinned in tests/test_ops.py.
    Packs are EXPLODED to scalar rows for the hash compare; fill_ratio
    is derived (total/max_len) and pinned in pytest instead."""
    from eel_sdk_spark.functions.packing import pack_sequences

    d = (_t(spark, sf, "documents")
         .select("doc_id", "n_chars")
         .repartition(1).sortWithinPartitions("doc_id"))
    packs = pack_sequences(d, "doc_id", "n_chars", max_len=4096)
    return packs.select(
        "pack_id", F.posexplode("doc_ids").alias("pos", "doc_id"),
        F.col("n_docs").cast("long").alias("n_docs"),
        "total_tokens")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver's gate records the first 50 dict
    entries, so the registry is SIZED to the gate: every registered query
    gets a CORRECTNESS row (round 2 registered 62 and the 12 past the
    window went unrecorded). Redundant variants were folded in, never
    silently dropped: minhash_sigs is exercised inside minhash_pairs;
    the xxhash simhash/near_dup_brute baselines live in pytest;
    hash_split routing is gate-checked inside clean_corpus; the text
    scalar panel, the set-ops trio, arg-extrema, the multimodal pair and
    the lineitem+embeddings roundtrips are each ONE multi-column query
    whose hash compare still validates every constituent exactly.
    Round-5 folds (same contract): the standalone take_ordered row now
    rides inside topk_per_group (global top-10 via DataStream.take under
    sentinel group -1) and ann_brute rides inside ann_batch (qid 0 is
    answered by the single-query brute_force_topk path) — the freed rows
    register semantic_dedup and the url_hygiene panel.
    Round-6 folds: rollup + cube become ONE grouping_sets row (both
    operators run, tagged by semantic); having rides inside
    price_histogram as a tagged leg; distinct rides inside set_ops — the
    three freed rows register html_extract, incremental_dedup, and
    logreg_score (the round-5 ops the r5 VERDICT flagged as
    pytest-only). Second r6 wave: take_while + drop_rows +
    sample_every_k become ONE row_slices row (all three ordered-slice
    operators run as tagged legs) — the two freed rows register the
    round-6 ops dup_spans (exact-substring span dedup) and boilerplate
    (cross-document line census), closing the new-op evidence gap
    within the same round it opened. Third wave: concat_zip + cartesian
    become ONE join_shapes row; the freed row registers lm_score (the
    round-6 bigram-LM perplexity scorer, whose DataFrame-native model
    was designed to be SQL-replayable).
    Round-7 folds (same contract): update_field + replace_nulls become
    ONE field_ops row (both DataStream transforms run as tagged legs);
    simhash_md5 rides inside dedup_exact (both are per-document
    fingerprint passes over the same corpus scan); media_features rides
    inside multimodal_frames — the three freed rows register the three
    remaining pytest-only ops the r6 VERDICT named: pagerank (host
    quality ranking), range_lookup (the encoded-table key-range scan
    API), and pack_sequences (training-sequence packing).
    Highest-stakes queries (codec roundtrips, sessionization) lead."""
    return {
        "roundtrip_verify": q_roundtrip_verify,
        "roundtrip_tables": q_roundtrip_tables,
        "gorilla_roundtrip": q_gorilla_roundtrip,
        "sessionization": q_sessionization,
        "session_stats": q_session_stats,
        "events_window": q_events_window,
        "json_extract": q_json_extract,
        "multimodal_frames": q_multimodal_frames,
        "filter_projection": q_filter_projection,
        "project_transform": q_project_transform,
        "field_ops": q_field_ops,
        "broadcast_join_agg": q_broadcast_join_agg,
        "join_multi": q_join_multi,
        "set_ops": q_set_ops,
        "tpch_q1": q_tpch_q1,
        "global_agg": q_global_agg,
        "topk_per_group": q_topk_per_group,
        "semantic_dedup": q_semantic_dedup,
        "row_slices": q_row_slices,
        "explode_tokens": q_explode_tokens,
        "pivot_case": q_pivot_case,
        "grouping_sets": q_grouping_sets,
        "window_running": q_window_running,
        "join_shapes": q_join_shapes,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "lm_score": q_lm_score,
        "string_funcs": q_string_funcs,
        "price_histogram": q_price_histogram,
        "map_rows": q_map_rows,
        "dedup_exact": q_dedup_exact,
        "minhash_pairs": q_minhash_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "dup_clusters": q_dup_clusters,
        "dup_spans": q_dup_spans,
        "boilerplate": q_boilerplate,
        "incremental_dedup": q_incremental_dedup,
        "clean_corpus": q_clean_corpus,
        "text_metrics": q_text_metrics,
        "html_extract": q_html_extract,
        "logreg_score": q_logreg_score,
        "url_hygiene": q_url_hygiene,
        "label_centroids": q_label_centroids,
        "mix_sources": q_mix_sources,
        "ann_batch": q_ann_batch,
        "embedding_lsh_near_dups": q_embedding_lsh_near_dups,
        "ann_ivf": q_ann_ivf,
        "pagerank": q_pagerank,
        "range_lookup": q_range_lookup,
        "pack_sequences": q_pack_sequences,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_TOKS = ("list_filter(string_split(text, ' '), x -> x <> '')")
_TOKS_LOWER = ("list_filter(string_split(lower(text), ' '), x -> x <> '')")
# BPE-ish token regex as a DuckDB SQL string literal (RE2-safe, no
# lookaheads; '' = escaped quote inside the SQL literal)
_BPE_RE = r"'''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s'']+'"


def oracle_sql() -> dict[str, str]:
    sigs = ", ".join(
        f"min(md5('{i}:' || tok)) AS sig_{i}" for i in range(4))
    # md5-family SimHash replay (rides the dedup_exact row since r7)
    simhash_sql = f"""
            WITH toks AS (
                SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), h AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
                FROM toks
            ), sums AS (
                SELECT doc_id,
                       {", ".join(
                           f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 "
                           f"ELSE -1 END) AS s{b}" for b in range(60))}
                FROM h GROUP BY doc_id
            )
            SELECT doc_id,
                   ({" + ".join(
                       f"CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT "
                       f"ELSE 0 END" for b in range(60))}) AS simhash
            FROM sums"""
    # PageRank: 5 power-iteration rounds unrolled as chained CTEs —
    # each round replays graph.pagerank op-for-op (dangling-mass scalar,
    # per-edge contribution rank/out_degree, base + damped inflow)
    pr_rounds = []
    for k in range(5):
        pr_rounds.append(f"""
            , d{k} AS (
                SELECT coalesce(sum(r.rank), 0) AS m
                FROM r{k} r LEFT JOIN outd o ON r.host = o.src
                WHERE o.src IS NULL)
            , c{k} AS (
                SELECT e.dst AS host, sum(r.rank / o.od) AS inflow
                FROM r{k} r JOIN outd o ON r.host = o.src
                JOIN edges e ON e.src = r.host
                GROUP BY e.dst)
            , r{k + 1} AS (
                SELECT n.host,
                       0.15 / (SELECT c FROM nn)
                       + 0.85 * (coalesce(c.inflow, 0)
                                 + (SELECT m FROM d{k})
                                   / (SELECT c FROM nn)) AS rank
                FROM nodes n LEFT JOIN c{k} c ON n.host = c.host)""")
    pagerank_sql = f"""
            WITH edges AS (
                SELECT DISTINCT
                       'h' || (doc_id % 53)::VARCHAR AS src,
                       'h' || ((doc_id * doc_id) % 53)::VARCHAR AS dst
                FROM documents
                WHERE (doc_id % 53) <> ((doc_id * doc_id) % 53))
            , nodes AS (
                SELECT src AS host FROM edges
                UNION SELECT dst AS host FROM edges)
            , nn AS (SELECT count(*) AS c FROM nodes)
            , outd AS (
                SELECT src, count(*)::DOUBLE AS od FROM edges GROUP BY src)
            , r0 AS (
                SELECT host, 1.0 / (SELECT c FROM nn) AS rank FROM nodes)
            {"".join(pr_rounds)}
            SELECT host, round(rank, 9) AS rank FROM r5"""
    # 3-gram word shingles, distinct per doc (matches dedup.ngram_set /
    # minhash_signatures(shingle=3))
    minhash_cte = f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
            FROM (SELECT doc_id, {_TOKS} AS w FROM documents)
        ), sigs AS (
            SELECT doc_id, {sigs} FROM toks GROUP BY doc_id
        )"""
    return {
        "filter_projection": f"""
            SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
            WHERE l_quantity < 10 AND epoch(l_shipdate) < {EPOCH_1996}""",
        "project_transform": """
            SELECT event_id, event_type AS etype, round(value * 2, 4) AS v2
            FROM events""",
        "field_ops": """
            SELECT 'update' AS leg, o_orderkey AS k1, NULL::BIGINT AS k2,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 'URGENT'
                        ELSE o_orderpriority END AS v
            FROM orders
            UNION ALL
            SELECT 'nulls' AS leg, l_orderkey AS k1,
                   l_linenumber::BIGINT AS k2,
                   coalesce(nullif(l_returnflag, 'N'), 'X') AS v
            FROM lineitem""",
        "broadcast_join_agg": """
            SELECT o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority""",
        "join_multi": """
            SELECT r_name, count(*) AS n_customers,
                   round(sum(c_acctbal), 2) AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "set_ops": """
            WITH pri AS (
                SELECT o_custkey FROM orders
                WHERE o_orderpriority = '1-URGENT'
                UNION ALL
                SELECT o_custkey FROM orders
                WHERE o_orderpriority = '2-HIGH'),
            rem AS (
                SELECT o_custkey FROM orders
                EXCEPT ALL
                SELECT o_custkey FROM pri),
            so AS (
                SELECT o_custkey FROM rem
                INTERSECT ALL
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
            SELECT 'setops' AS leg, o_custkey::VARCHAR AS a,
                   NULL::VARCHAR AS b FROM so
            UNION ALL
            SELECT DISTINCT 'distinct' AS leg, l_returnflag AS a,
                   l_linestatus AS b FROM lineitem""",
        "tpch_q1": f"""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE epoch(l_shipdate) <= {EPOCH_Q1_CUT}
            GROUP BY l_returnflag, l_linestatus""",
        "global_agg": """
            SELECT 'agg' AS leg, NULL::VARCHAR AS col, count(*) AS n,
                   NULL::BIGINT AS n_nulls,
                   round(min(o_totalprice), 2) AS vmin,
                   round(max(o_totalprice), 2) AS vmax,
                   round(avg(o_totalprice), 4) AS vmean,
                   arg_max(o_orderkey, o_totalprice) AS top_order,
                   arg_min(o_orderkey, o_totalprice) AS bottom_order
            FROM orders
            UNION ALL
            SELECT 'profile', 'value', count(value),
                   sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END),
                   round(min(value), 4) + 0.0, round(max(value), 4) + 0.0,
                   round(avg(value), 4) + 0.0,
                   NULL::BIGINT, NULL::BIGINT
            FROM events
            UNION ALL
            SELECT 'profile', 'event_type', count(event_type),
                   sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
                   NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
                   NULL::BIGINT, NULL::BIGINT
            FROM events""",
        "topk_per_group": """
            SELECT o_custkey, o_orderkey, rn FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders) WHERE rn <= 3
            UNION ALL
            SELECT -1 AS o_custkey, o_orderkey, rn FROM (
                SELECT o_orderkey,
                       row_number() OVER (ORDER BY o_totalprice DESC,
                                          o_orderkey) AS rn
                FROM orders) WHERE rn <= 10""",
        "row_slices": """
            WITH t AS (SELECT o_orderkey, o_totalprice,
                              row_number() OVER (ORDER BY o_orderkey) AS rn
                       FROM orders)
            SELECT 'take_while' AS leg, o_orderkey AS k1,
                   NULL::BIGINT AS k2 FROM t
            WHERE rn < coalesce((SELECT min(rn) FROM t
                                 WHERE NOT (o_totalprice > 1000)),
                                (SELECT max(rn) + 1 FROM t))
            UNION ALL
            SELECT 'drop' AS leg, o_orderkey AS k1, NULL::BIGINT AS k2
            FROM (SELECT o_orderkey,
                         row_number() OVER (ORDER BY o_orderkey) AS rn
                  FROM orders) WHERE rn > 100
            UNION ALL
            SELECT 'sample' AS leg, l_orderkey AS k1,
                   l_linenumber::BIGINT AS k2 FROM (
                SELECT l_orderkey, l_linenumber,
                       row_number() OVER (ORDER BY l_orderkey, l_linenumber)
                           AS rn
                FROM lineitem) WHERE rn % 500 = 0""",
        # exact-substring span dedup: plant a 10-token phrase on every
        # 7th doc, replay window-hash counting (md5 of the space-joined
        # 8-gram), canonical (min id, min pos) ranking, and
        # gaps-and-islands merging of the fixed-length windows
        "dup_spans": """
            WITH planted AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text ||
                            ' zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10'
                            ELSE text END AS text
                FROM documents),
            wh AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(w[i:i+7], ' ')) AS h
                FROM (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         x -> x <> '') AS w FROM planted),
                     UNNEST(generate_series(1, len(w) - 7)) AS t(i)),
            dup AS (SELECT h FROM wh GROUP BY h HAVING count(*) >= 2),
            cut AS (
                SELECT doc_id, pos FROM (
                    SELECT wh.doc_id, wh.pos,
                           row_number() OVER (PARTITION BY h
                               ORDER BY doc_id, pos) AS rn
                    FROM wh JOIN dup USING (h)) WHERE rn > 1),
            dcut AS (SELECT DISTINCT doc_id, pos FROM cut),
            isl AS (
                SELECT doc_id, pos,
                       sum(CASE WHEN prev IS NULL OR pos > prev + 8
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS g
                FROM (SELECT doc_id, pos,
                             lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS prev
                      FROM dcut)),
            spans AS (
                SELECT doc_id, min(pos) AS start, max(pos) + 8 AS "end"
                FROM isl GROUP BY doc_id, g),
            -- rewrite leg: token-index anti-filter against the doc's
            -- merged spans, space-rejoined (identical to the Spark
            -- F.filter(idx, ...)+concat_ws rebuild)
            toks AS (
                SELECT doc_id, unnest(w) AS tok,
                       generate_subscripts(w, 1) - 1 AS idx
                FROM (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         x -> x <> '') AS w
                      FROM planted
                      WHERE doc_id IN (SELECT doc_id FROM spans))),
            rew AS (
                SELECT t.doc_id,
                       string_agg(t.tok, ' ' ORDER BY t.idx) AS s
                FROM toks t
                WHERE NOT EXISTS (
                    SELECT 1 FROM spans sp
                    WHERE sp.doc_id = t.doc_id
                      AND sp.start <= t.idx AND t.idx < sp."end")
                GROUP BY t.doc_id),
            rew_all AS (
                SELECT d.doc_id, coalesce(r.s, '') AS s
                FROM (SELECT DISTINCT doc_id FROM spans) d
                LEFT JOIN rew r USING (doc_id))
            SELECT 'spans' AS leg, doc_id, start::BIGINT AS start,
                   "end"::BIGINT AS "end", NULL::VARCHAR AS s
            FROM spans
            UNION ALL
            SELECT 'rewrite' AS leg, doc_id, NULL::BIGINT AS start,
                   NULL::BIGINT AS "end", s
            FROM rew_all""",
        # cross-document boilerplate census over synthesized banner
        # lines: per-doc DISTINCT lines, length gate, min_docs threshold
        "boilerplate": """
            WITH lined AS (
                SELECT doc_id, text
                    || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
                       'Accept all cookies to continue reading this excellent site'
                       ELSE '' END
                    || CASE WHEN doc_id % 4 = 0 THEN chr(10) ||
                       'Subscribe to the newsletter | Home | About | Contact'
                       || chr(10) ||
                       'Subscribe to the newsletter | Home | About | Contact'
                       ELSE '' END AS text
                FROM documents),
            lines AS (
                SELECT doc_id, unnest(list_distinct(
                    string_split(text, chr(10)))) AS line
                FROM lined),
            census AS (
                SELECT md5(line) AS line_hash, count(*) AS n_docs,
                       min(line) AS line
                FROM lines WHERE length(trim(line)) >= 10
                GROUP BY md5(line) HAVING count(*) >= 50),
            -- strip leg: anti-filter each doc's positional lines against
            -- the census hashes, newline-rejoin in order, keep docs whose
            -- text changed (identity branch is trivial); docs losing
            -- every line come back as ''
            parts AS (
                SELECT doc_id, idx, line
                FROM (SELECT doc_id,
                             unnest(string_split(text, chr(10))) AS line,
                             generate_subscripts(
                                 string_split(text, chr(10)), 1) AS idx
                      FROM lined)
                WHERE md5(line) NOT IN (SELECT line_hash FROM census)),
            stripped AS (
                SELECT l.doc_id, l.text AS orig,
                       coalesce(p.s, '') AS s
                FROM lined l LEFT JOIN (
                    SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY idx) AS s
                    FROM parts GROUP BY doc_id) p USING (doc_id))
            SELECT 'census' AS leg, line_hash, n_docs, line,
                   NULL::BIGINT AS doc_id, NULL::VARCHAR AS s
            FROM census
            UNION ALL
            SELECT 'strip' AS leg, NULL::VARCHAR AS line_hash,
                   NULL::BIGINT AS n_docs, NULL::VARCHAR AS line,
                   doc_id, s
            FROM stripped WHERE s <> orig""",
        # 'bpe' leg closed form (fixed 2-merge model t+h, e+r</w>):
        # per word, tokens = chars - non-final 'th' pairs - ends-with-er;
        # 'th' pairs counted in the first len-1 chars (the final char is
        # fused with </w> and can never be the h of a t+h merge)
        "explode_tokens": f"""
            SELECT 'top' AS leg, tok, n FROM (
                SELECT tok, count(*) AS n FROM (
                    SELECT unnest({_TOKS}) AS tok FROM documents)
                GROUP BY tok ORDER BY n DESC, tok LIMIT 20)
            UNION ALL
            SELECT 'bpe', CAST(d.doc_id AS VARCHAR),
                   CAST(coalesce((SELECT sum(
                       length(w)
                       - (length(substr(w, 1, length(w) - 1))
                          - length(replace(substr(w, 1, length(w) - 1),
                                           'th', ''))) // 2
                       - CASE WHEN w LIKE '%er' THEN 1 ELSE 0 END)
                     FROM unnest(string_split_regex(d.text, '\\s+'))
                          AS t(w)
                     WHERE length(w) > 0), 0) AS BIGINT) AS n
            FROM documents d""",
        "pivot_case": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity
                                  ELSE 0 END), 2) AS qty_open,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity
                                  ELSE 0 END), 2) AS qty_finished
            FROM lineitem GROUP BY l_returnflag""",
        "grouping_sets": """
            SELECT 'rollup' AS sem, coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            UNION ALL
            SELECT 'cube' AS sem, coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW), 2) AS running
            FROM orders""",
        "join_shapes": """
            WITH a AS (SELECT n_name,
                              row_number() OVER (ORDER BY n_nationkey) AS rn
                       FROM nation),
                 b AS (SELECT r_name,
                              row_number() OVER (ORDER BY r_regionkey) AS rn
                       FROM region)
            SELECT 'zip' AS leg, n_name AS a, r_name AS b
            FROM a JOIN b USING (rn)
            UNION ALL
            SELECT 'cartesian' AS leg, r_name AS a, n_name AS b
            FROM region CROSS JOIN nation""",
        # bigram stupid-backoff LM: replay count tables, 6dp-rounded
        # log-probs, backoff coalescing, and the 4dp per-doc average —
        # the model is two SQL tables by design. Caps (100k/200k) far
        # exceed the synthetic vocabulary, so LIMIT never binds.
        "lm_score": f"""
            WITH ref AS (SELECT doc_id, lower(text) AS text
                         FROM documents WHERE doc_id % 2 = 0),
            probe AS (SELECT doc_id, lower(text) AS text
                      FROM documents WHERE doc_id % 2 = 1),
            uni AS (SELECT w, count(*) AS c FROM (
                SELECT unnest({_TOKS}) AS w FROM ref) GROUP BY w),
            tot AS (SELECT sum(c) AS t FROM uni),
            unilp AS (SELECT w, round(ln(c / (SELECT t FROM tot)), 6)
                          AS lp
                      FROM uni ORDER BY c DESC, w LIMIT 100000),
            rp AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM
                   (SELECT {_TOKS} AS w FROM ref),
                   UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
            big AS (SELECT w1, w2, count(*) AS c12 FROM rp
                    GROUP BY w1, w2),
            w1t AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY w1),
            biglp AS (SELECT w1, w2, round(ln(c12 / c1), 6) AS lp
                      FROM big JOIN w1t USING (w1)
                      ORDER BY c12 DESC, w1, w2 LIMIT 200000),
            trans AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM
                      (SELECT doc_id, {_TOKS} AS w FROM probe),
                      UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
            sc AS (SELECT t.doc_id,
                          coalesce(b.lp,
                                   round(ln(0.4), 6) + u.lp,
                                   round(ln(0.4), 6) +
                                   round(ln(0.5 / (SELECT t FROM tot)),
                                         6)) AS lp
                   FROM trans t
                   LEFT JOIN biglp b ON t.w1 = b.w1 AND t.w2 = b.w2
                   LEFT JOIN unilp u ON u.w = t.w2),
            agg AS (SELECT doc_id, count(*) AS n_transitions,
                           round(avg(lp), 4) AS avg_logp
                    FROM sc GROUP BY doc_id)
            SELECT doc_id, n_transitions, avg_logp,
                   round(exp(-avg_logp), 2) AS ppl FROM agg
            UNION ALL
            SELECT doc_id, 0 AS n_transitions, NULL::DOUBLE AS avg_logp,
                   NULL::DOUBLE AS ppl
            FROM probe WHERE len({_TOKS}) < 2""",
        "asof_join": """
            SELECT l.event_id,
                   epoch_us(l.ts) AS click_us,
                   epoch_us(r.ts) AS purchase_us,
                   round(r.value, 2) AS pvalue
            FROM (SELECT * FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts""",
        "range_join": """
            SELECT c.event_id AS click_id, s.event_id AS signup_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'signup') s
              ON c.user_id = s.user_id
             AND c.ts >= s.ts
             AND c.ts <= s.ts + INTERVAL 20 MINUTE""",
        "string_funcs": """
            SELECT p_partkey,
                   upper(p_name) AS uname,
                   lower(p_brand) AS lbrand,
                   substr(p_type, 1, 5) AS type5,
                   length(p_name) AS name_len,
                   concat_ws('-', p_brand, p_type) AS brand_type,
                   regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
                   trim('  x  ') AS trimmed
            FROM part""",
        "price_histogram": """
            SELECT 'hist' AS leg,
                   CASE WHEN o_totalprice < 50000 THEN 'lo'
                        WHEN o_totalprice < 150000 THEN 'mid'
                        ELSE 'hi' END AS bucket,
                   count(*) AS n, round(avg(o_totalprice), 4) AS val
            FROM orders GROUP BY 2
            UNION ALL
            SELECT 'having' AS leg, o_custkey::VARCHAR AS bucket,
                   count(*) AS n, round(sum(o_totalprice), 2) AS val
            FROM orders GROUP BY o_custkey HAVING count(*) >= 5""",
        "map_rows": """
            SELECT doc_id, length(text) AS n_chars, upper(lang) AS shout
            FROM documents""",
        "dedup_exact": f"""
            SELECT 'exact' AS leg, md5(text) AS fp, count(*) AS n_dups,
                   min(doc_id) AS keep_id, NULL::BIGINT AS doc_id,
                   NULL::VARCHAR AS simhash
            FROM documents GROUP BY md5(text)
            UNION ALL
            SELECT 'simhash' AS leg, NULL::VARCHAR AS fp,
                   NULL::BIGINT AS n_dups, NULL::BIGINT AS keep_id,
                   doc_id, simhash::VARCHAR AS simhash
            FROM ({simhash_sql})""",
        "jaccard_pairs": minhash_cte + """
            , bands AS (
                SELECT doc_id, 0 AS band,
                       md5(sig_0 || '|' || sig_1) AS band_key FROM sigs
                UNION ALL
                SELECT doc_id, 1 AS band,
                       md5(sig_2 || '|' || sig_3) AS band_key FROM sigs)
            , cands AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.band_key = y.band_key
                 AND x.doc_id < y.doc_id)
            , grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
                FROM (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         x -> x <> '') AS w
                      FROM documents))
            SELECT a, b,
                   round(len(list_intersect(ga.g, gb.g))
                         / len(list_distinct(list_concat(ga.g, gb.g)))::DOUBLE,
                         4) AS jaccard
            FROM cands
            JOIN grams ga ON ga.doc_id = a
            JOIN grams gb ON gb.doc_id = b
            WHERE round(len(list_intersect(ga.g, gb.g))
                        / len(list_distinct(list_concat(ga.g, gb.g)))::DOUBLE,
                        4) >= 0.2""",
        "minhash_pairs": minhash_cte + """
            , bands AS (
                SELECT doc_id, 0 AS band,
                       md5(sig_0 || '|' || sig_1) AS band_key FROM sigs
                UNION ALL
                SELECT doc_id, 1 AS band,
                       md5(sig_2 || '|' || sig_3) AS band_key FROM sigs)
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.band_key = y.band_key
             AND x.doc_id < y.doc_id""",
        # connected components via recursive CTE over the same verified
        # near-dup pairs the Spark side computes
        "dup_clusters": minhash_cte.replace("WITH toks", "WITH RECURSIVE toks") + """
            , bands AS (
                SELECT doc_id, 0 AS band,
                       md5(sig_0 || '|' || sig_1) AS band_key FROM sigs
                UNION ALL
                SELECT doc_id, 1 AS band,
                       md5(sig_2 || '|' || sig_3) AS band_key FROM sigs)
            , cands AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.band_key = y.band_key
                 AND x.doc_id < y.doc_id)
            , grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
                FROM (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         x -> x <> '') AS w
                      FROM documents))
            , pairs AS (
                SELECT a, b FROM cands
                JOIN grams ga ON ga.doc_id = a
                JOIN grams gb ON gb.doc_id = b
                WHERE round(len(list_intersect(ga.g, gb.g))
                            / len(list_distinct(
                                  list_concat(ga.g, gb.g)))::DOUBLE, 4)
                      >= 0.2)
            , edges AS (SELECT a AS src, b AS dst FROM pairs
                        UNION SELECT b, a FROM pairs)
            , nodes AS (SELECT DISTINCT src AS id FROM edges)
            , reach(id, lab) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.dst, r.lab FROM reach r
                JOIN edges e ON e.src = r.id)
            SELECT id, min(lab) AS component FROM reach GROUP BY id""",
        # append-batch dedup vs a persisted signature store: replays fp
        # match + band collision + within-batch exact/near op-for-op
        # (same md5-chain sigs as minhash_pairs; max_bucket disabled on
        # both sides for the replay)
        "incremental_dedup": f"""
            WITH batch AS (
                SELECT doc_id + 1000000 AS doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text
                            WHEN doc_id % 5 = 1
                                THEN text || ' extra extra extra'
                            ELSE 'u' || doc_id::VARCHAR || ' v' ||
                                 doc_id::VARCHAR || ' w' ||
                                 doc_id::VARCHAR || ' x' ||
                                 doc_id::VARCHAR || ' y' ||
                                 doc_id::VARCHAR
                       END AS text
                FROM documents),
            store_fp AS (SELECT DISTINCT md5(text) AS fp FROM documents),
            store_toks AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
                       AS tok
                FROM (SELECT doc_id, {_TOKS} AS w FROM documents)),
            store_sigs AS (
                SELECT doc_id, {sigs} FROM store_toks GROUP BY doc_id),
            batch_fp AS (SELECT doc_id, md5(text) AS fp FROM batch),
            batch_toks AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
                       AS tok
                FROM (SELECT doc_id, {_TOKS} AS w FROM batch)),
            batch_sigs AS (
                SELECT doc_id, {sigs} FROM batch_toks GROUP BY doc_id),
            old_bands AS (
                SELECT 0 AS band, md5(sig_0 || '|' || sig_1) AS band_key
                FROM store_sigs
                UNION ALL
                SELECT 1, md5(sig_2 || '|' || sig_3) FROM store_sigs),
            new_bands AS (
                SELECT doc_id, 0 AS band,
                       md5(sig_0 || '|' || sig_1) AS band_key
                FROM batch_sigs
                UNION ALL
                SELECT doc_id, 1, md5(sig_2 || '|' || sig_3)
                FROM batch_sigs),
            flagged AS (
                SELECT b.doc_id FROM batch_fp b JOIN store_fp s USING (fp)
                UNION ALL
                SELECT n.doc_id FROM new_bands n
                JOIN (SELECT DISTINCT band, band_key FROM old_bands) o
                  USING (band, band_key)
                UNION ALL
                SELECT doc_id FROM (
                    SELECT doc_id,
                           min(doc_id) OVER (PARTITION BY fp) AS keep
                    FROM batch_fp) WHERE doc_id <> keep
                UNION ALL
                SELECT y.doc_id FROM new_bands x JOIN new_bands y
                  ON x.band = y.band AND x.band_key = y.band_key
                 AND x.doc_id < y.doc_id),
            flags AS (SELECT DISTINCT doc_id FROM flagged)
            SELECT 'mem' AS leg, doc_id FROM flags
            UNION ALL
            SELECT 'store' AS leg, doc_id FROM flags""",
        # html extraction panel over synthesized markup: the oracle
        # states the EXPECTED extraction result directly (document text
        # is verified single-spaced with no <>& at every sf), pinning
        # tag/script/comment stripping, block-tag newlines, the r6
        # one-level entity-unescape order, link filtering+resolution,
        # and density arithmetic
        "html_extract": """
            WITH h AS (
                SELECT doc_id, source, text,
                       '<html><head><title> Doc ' || doc_id::VARCHAR ||
                       ' &amp; more &amp;lt;tag&amp;gt; </title>' ||
                       '<link rel="canonical" href="https://c.example/' ||
                       doc_id::VARCHAR ||
                       '"><style>p { color: red }</style>' ||
                       '<script>var x = 1 < 2;</script></head><body>' ||
                       '<!-- hidden <b>comment</b> --><h1>Header ' ||
                       source || '</h1><p>' || text ||
                       '</p><a href="/l/' || doc_id::VARCHAR ||
                       '">x</a><a href="#frag">y</a>' ||
                       '<a href="javascript:void(0)">z</a>' ||
                       '<a href="https://other.example/abs">w</a>' ||
                       '</body></html>' AS html
                FROM documents),
            vis AS (
                SELECT doc_id, html,
                       'Doc ' || doc_id::VARCHAR ||
                       ' & more &lt;tag&gt;' || chr(10) ||
                       'Header ' || source || chr(10) || text ||
                       chr(10) || 'x y z w' AS v
                FROM h)
            SELECT doc_id,
                   'Doc ' || doc_id::VARCHAR || ' & more &lt;tag&gt;'
                       AS title,
                   length(v) AS text_len,
                   'https://h.example/l/' || doc_id::VARCHAR ||
                   ',https://other.example/abs' AS links,
                   'https://c.example/' || doc_id::VARCHAR AS canon,
                   round(length(v) / length(html), 4) AS density
            FROM vis""",
        # classifier scoring under a FIXED literal model: unrounded
        # feature panel -> standardize -> weighted sum (same left-fold
        # association and w*((x-m)/s) grouping as _z_expr) -> sigmoid
        "logreg_score": f"""
            WITH feats AS (
                SELECT doc_id,
                       ln(1 + len({_TOKS})) AS f_log_tokens,
                       CASE WHEN length(text) > 0 THEN
                           (length(text) - length(regexp_replace(text,
                            '[.,!?;:]', '', 'g'))) / length(text)
                           ELSE 0 END AS f_punct,
                       CASE WHEN len({_TOKS_LOWER}) > 0 THEN
                           len(list_filter({_TOKS_LOWER},
                               x -> list_contains({STOP_SQL}, x)))
                           / len({_TOKS_LOWER})::DOUBLE
                           ELSE 0 END AS f_stop,
                       CASE WHEN len({_TOKS}) > 0 THEN
                           1.0 - len(list_distinct({_TOKS}))
                                 / len({_TOKS})::DOUBLE
                           ELSE 0.0 END AS f_dup
                FROM documents),
            z AS (
                SELECT doc_id,
                       -0.25 + 0.8 * ((f_log_tokens - 3.0) / 1.0)
                             + (-2.0) * ((f_punct - 0.05) / 0.05)
                             + 1.5 * ((f_stop - 0.2) / 0.1)
                             + (-1.0) * ((f_dup - 0.3) / 0.25) AS zz
                FROM feats)
            SELECT doc_id, round(1.0 / (1.0 + exp(-zz)), 4)
                       AS quality_prob
            FROM z""",
        # the full cleanup pipeline, composed from the already-verified
        # pieces: exact dedup + minhash/LSH + jaccard>=0.5 + quality>=0.3
        # + md5 split routing
        "clean_corpus": f"""
            WITH fp AS (SELECT doc_id, text, lang, md5(text) AS f
                        FROM documents),
            reps AS (SELECT f, min(doc_id) AS keep FROM fp GROUP BY f),
            k1 AS (SELECT fp.doc_id, fp.text, fp.lang FROM fp
                   JOIN reps ON fp.f = reps.f AND fp.doc_id = reps.keep),
            toks AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
                           AS tok
                FROM (SELECT doc_id, {_TOKS} AS w FROM k1)
            ), sigs AS (
                SELECT doc_id,
                       {", ".join(f"min(md5('{i}:' || tok)) AS sig_{i}"
                                  for i in range(4))}
                FROM toks GROUP BY doc_id
            ), bands AS (
                SELECT doc_id, 0 AS band,
                       md5(sig_0 || '|' || sig_1) AS band_key FROM sigs
                UNION ALL
                SELECT doc_id, 1 AS band,
                       md5(sig_2 || '|' || sig_3) AS band_key FROM sigs
            ), cands AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.band_key = y.band_key
                 AND x.doc_id < y.doc_id
            ), grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
                FROM (SELECT doc_id, {_TOKS} AS w FROM k1)
            ), losers AS (
                SELECT DISTINCT b FROM cands
                JOIN grams ga ON ga.doc_id = a
                JOIN grams gb ON gb.doc_id = b
                WHERE round(len(list_intersect(ga.g, gb.g))
                            / len(list_distinct(
                                  list_concat(ga.g, gb.g)))::DOUBLE, 4)
                      >= 0.5
            ), k2 AS (
                SELECT * FROM k1
                WHERE doc_id NOT IN (SELECT b FROM losers)
            ), scored AS (
                SELECT doc_id, lang,
                   round((
                       least(len({_TOKS}) / 100.0, 1.0)
                     + least((CASE WHEN len({_TOKS_LOWER}) > 0 THEN
                           len(list_filter({_TOKS_LOWER},
                               x -> list_contains({STOP_SQL}, x)))
                           / len({_TOKS_LOWER})::DOUBLE ELSE 0 END) * 4, 1.0)
                     + greatest(0.0, 1.0 - (CASE WHEN length(text) > 0 THEN
                           (length(text) - length(regexp_replace(text,
                            '[.,!?;:]', '', 'g'))) / length(text)
                           ELSE 0 END) * 5)
                   ) / 3.0, 4) AS quality
                FROM k2
            )
            SELECT doc_id, lang,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, lang,
                         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                         % 100 AS b
                  FROM scored WHERE quality >= 0.3)""",
        "text_metrics": f"""
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   round(CASE WHEN length(text) > 0 THEN
                       (length(text) - length(regexp_replace(text,
                        '[.,!?;:]', '', 'g'))) / length(text)
                       ELSE 0 END, 4) AS punct_ratio,
                   round(CASE WHEN len({_TOKS_LOWER}) > 0 THEN
                       len(list_filter({_TOKS_LOWER},
                           x -> list_contains({STOP_SQL}, x)))
                       / len({_TOKS_LOWER})::DOUBLE ELSE 0 END, 4)
                       AS stop_ratio,
                   round((
                       least(len({_TOKS}) / 100.0, 1.0)
                     + least((CASE WHEN len({_TOKS_LOWER}) > 0 THEN
                           len(list_filter({_TOKS_LOWER},
                               x -> list_contains({STOP_SQL}, x)))
                           / len({_TOKS_LOWER})::DOUBLE ELSE 0 END) * 4, 1.0)
                     + greatest(0.0, 1.0 - (CASE WHEN length(text) > 0 THEN
                           (length(text) - length(regexp_replace(text,
                            '[.,!?;:]', '', 'g'))) / length(text)
                           ELSE 0 END) * 5)
                   ) / 3.0, 4) AS quality,
                CASE
                  WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                  WHEN regexp_matches(text, '[぀-ヿ]') THEN 'ja'
                  WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
                  WHEN (CASE WHEN position(' der ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' die ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' und ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' nicht ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END) >= 2
                      THEN 'de'
                  WHEN (CASE WHEN position(' le ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' la ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' les ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' est ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END) >= 2
                      THEN 'fr'
                  WHEN (CASE WHEN position(' el ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' los ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' que ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
                      + CASE WHEN position(' una ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END) >= 2
                      THEN 'es'
                  ELSE 'en'
                END AS lang_guess,
                round(CASE WHEN len({_TOKS}) > 0 THEN
                    1.0 - len(list_distinct({_TOKS}))
                          / len({_TOKS})::DOUBLE
                    ELSE 0.0 END, 4) AS dup_ratio,
                len(regexp_extract_all(text,
                    {_BPE_RE}))
                    AS n_bpe,
                substr(md5(text), 1, 16) AS fp16
            FROM documents""",
        # SemDeDup replay with the same explicit codebook (embeddings of
        # vec_id 0..7): argmax-dot cell assignment with the identical
        # first-max / lowest-cid tie-break, within-cell cosine dominance,
        # survivors out. Dot/cosine margins are ~1e-2 while cross-engine
        # float-sum-order drift is ~1e-15, so unrounded compares agree.
        "semantic_dedup": """
            WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
                       FROM embeddings WHERE vec_id < 8),
            d AS (SELECT e.vec_id, e.embedding, c.cid,
                         list_inner_product(e.embedding::DOUBLE[], c.ce)
                             AS dot
                  FROM embeddings e CROSS JOIN c),
            asn AS (SELECT vec_id, embedding, cid AS cell FROM (
                        SELECT vec_id, embedding, cid,
                               row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dot DESC, cid) AS rn
                        FROM d) WHERE rn = 1),
            dom AS (SELECT DISTINCT b.vec_id
                    FROM asn a JOIN asn b
                      ON a.cell = b.cell AND a.vec_id < b.vec_id
                    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[])
                          >= 0.3)
            SELECT 'dedup' AS leg, e.vec_id, e.label,
                   NULL::INT AS cell, NULL::INT AS pos,
                   NULL::DOUBLE AS m
            FROM embeddings e
            WHERE e.vec_id NOT IN (SELECT vec_id FROM dom)
            UNION ALL
            SELECT 'kmeans', NULL::BIGINT, NULL::INT,
                   cell, i - 1 AS pos,
                   round(avg(embedding[i]::DOUBLE), 4) + 0 AS m
            FROM asn CROSS JOIN generate_series(1, 64) AS g(i)
            GROUP BY cell, i""",
        # op-for-op replay of the synthesized URLs + host/domain
        # extraction + all-suffix deny-list flag
        "url_hygiene": """
            WITH u AS (
                SELECT doc_id,
                       'https://' ||
                       CASE WHEN doc_id % 3 = 0 THEN 'www.'
                            WHEN doc_id % 3 = 1 THEN 'cdn.'
                            ELSE '' END ||
                       source || '.example' ||
                       CASE WHEN doc_id % 4 = 0 THEN '.co.uk'
                            WHEN doc_id % 4 = 1 THEN '.com'
                            WHEN doc_id % 4 = 2 THEN '.org'
                            ELSE '.net' END ||
                       '/p/' || doc_id AS url
                FROM documents),
            h AS (SELECT doc_id,
                         lower(regexp_extract(url,
                             '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@\\s]*@)?([^/:?#\\s]+)',
                             1)) AS host
                  FROM u),
            hl AS (SELECT doc_id, host, string_split(host, '.') AS ls
                   FROM h)
            SELECT doc_id, host,
                   CASE WHEN len(ls) >= 2
                        THEN array_to_string(ls[len(ls)-1:len(ls)], '.')
                        ELSE array_to_string(ls, '.') END AS dom2,
                   len(list_filter(
                       list_transform(generate_series(1, least(len(ls), 5)),
                           k -> array_to_string(
                               ls[len(ls)-k+1:len(ls)], '.')),
                       s -> s IN ('src0.example.co.uk',
                                  'src1.example.com'))) > 0 AS blocked
            FROM hl""",
        "embedding_lsh_near_dups": """
            WITH planes AS (
                SELECT p, list_transform(generate_series(0, 63),
                    i -> CASE WHEN ('0x' || substr(md5(p::VARCHAR || ':'
                                   || i::VARCHAR), 1, 1))::INT % 2 = 0
                         THEN 1.0 ELSE -1.0 END) AS v
                FROM range(0, 8) t(p)
            ), buck AS (
                SELECT vec_id, embedding,
                       sum(CASE WHEN list_inner_product(
                               embedding::DOUBLE[], v) >= 0
                           THEN (1 << p) ELSE 0 END) AS bucket
                FROM embeddings, planes GROUP BY vec_id, embedding
            )
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 4)
                       AS cos
            FROM buck a JOIN buck b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 4)
                  >= 0.3""",
        # + 0.0 normalizes IEEE negative zero: DuckDB's round() keeps the
        # sign of a tiny negative average (-1e-6 -> -0.0) while Spark's
        # BigDecimal round cannot represent -0 — at sf0.1 four centroid
        # components land exactly there and the value hash distinguishes
        # "-0" from "0"
        "label_centroids": """
            SELECT label, (i - 1)::INTEGER AS pos,
                   round(avg(embedding[i]::DOUBLE), 4) + 0.0 AS value
            FROM embeddings, generate_series(1, 64) t(i)
            GROUP BY label, pos""",
        # mirrors mix_sources' arithmetic OP FOR OP (share, feasible,
        # frac, md5 bucket) so the kept set matches per document
        "mix_sources": """
            WITH pick AS (
                SELECT min(source) AS a, max(source) AS b FROM (
                    SELECT DISTINCT source FROM documents
                    ORDER BY source LIMIT 2)),
            c AS (SELECT source, count(*) AS n FROM documents
                  WHERE source = (SELECT a FROM pick)
                     OR source = (SELECT b FROM pick)
                  GROUP BY source),
            w AS (SELECT source, n,
                         CASE WHEN source = (SELECT a FROM pick)
                              THEN 3.0/4.0 ELSE 1.0/4.0 END AS share
                  FROM c),
            f AS (SELECT min(n / share) AS feas FROM w),
            fr AS (SELECT source,
                          least(1.0, share * (SELECT feas FROM f)
                                / greatest(n, 1)) AS frac
                   FROM w)
            SELECT 'mix' AS leg, d.doc_id, d.source
            FROM documents d JOIN fr ON d.source = fr.source
            WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                   % 1000000) / 1000000.0 < fr.frac + 0.000000001
            UNION ALL
            SELECT 'wsample' AS leg, doc_id, source FROM (
                WITH wt AS (
                    SELECT doc_id, source,
                           greatest(coalesce(
                               CASE WHEN doc_id % 97 = 0 THEN NULL
                                    ELSE (n_chars * n_chars * n_chars)
                                         ::DOUBLE END, 0.0), 0.0) AS w
                    FROM documents),
                sc AS (SELECT 0.5 / avg(w) AS scale FROM wt),
                ex AS (SELECT avg(least(wt.w * sc.scale, 1.0)) AS e,
                              avg(CASE WHEN wt.w * sc.scale < 1.0
                                       THEN wt.w * sc.scale
                                       ELSE 0.0 END) AS eu
                       FROM wt, sc),
                bo AS (SELECT CASE WHEN 0.5 - e > 0 AND eu > 0
                                   THEN 1.0 + (0.5 - e) / eu
                                   ELSE 1.0 END AS boost FROM ex)
                SELECT wt.doc_id, wt.source
                FROM wt, sc, bo
                WHERE least(wt.w * sc.scale * bo.boost, 1.0) > 0.0
                  AND (('0x' || substr(md5(wt.doc_id::VARCHAR), 1, 8))
                       ::BIGINT % 1000000) / 1000000.0
                      < least(wt.w * sc.scale * bo.boost, 1.0)
                        + 0.000000001)""",
        "ann_batch": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qe
                       FROM embeddings WHERE vec_id IN (0, 1, 2))
            SELECT qid, vec_id, cos FROM (
                SELECT q.qid, e.vec_id,
                       round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                    q.qe::DOUBLE[]), 4) AS cos,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY round(list_cosine_similarity(
                               e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4)
                               DESC, e.vec_id) AS rn
                FROM embeddings e, q)
            WHERE rn <= 5""",
        # full-probe IVF must equal exact brute-force top-k
        "ann_ivf": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                                                qe::DOUBLE[]), 4) AS cos
            FROM embeddings, q
            ORDER BY cos DESC, vec_id LIMIT 10""",
        "pagerank": pagerank_sql,
        # the oracle is the RAW table: a codec/manifest/prune bug on the
        # Spark side (which answers through encode -> manifest key-range
        # prune -> block skip -> decode) breaks the hash compare. The
        # 'range' leg replays delete(120,200,205) then upsert(120
        # readmitted,150,151 with UPD: text); the 'cdc' leg replays
        # read_appended since the pre-upsert cursor = the incoming rows
        # ONLY (a leaked rewrite file would re-emit pre-existing rows
        # and break the hash)
        "range_lookup": """
            SELECT 'range' AS leg, doc_id,
                   CASE WHEN doc_id IN (120, 150, 151)
                        THEN 'UPD:' || text ELSE text END AS text,
                   lang, source, n_chars
            FROM documents
            WHERE doc_id BETWEEN 100 AND 260
              AND doc_id NOT IN (200, 205)
            UNION ALL
            SELECT 'cdc', doc_id, 'UPD:' || text, lang, source, n_chars
            FROM documents WHERE doc_id IN (120, 150, 151)
            UNION ALL
            SELECT 'ck', doc_id, 'UPD2:' || text, lang, source, n_chars
            FROM documents WHERE doc_id IN (300, 301, 302)""",
        # sequential next-fit replay: one recursive-CTE step per doc in
        # doc_id order carries (open pack seq, open pack tokens) exactly
        # like the numpy kernel (close-on-overflow, oversized-alone,
        # flush-at-exactly-full)
        "pack_sequences": """
            WITH RECURSIVE docs AS (
                SELECT doc_id, n_chars AS len,
                       row_number() OVER (ORDER BY doc_id) AS rn
                FROM documents
            ), walk AS (
                SELECT d.rn, d.doc_id, d.len, 0 AS pack,
                       CASE WHEN d.len >= 4096 THEN 1 ELSE 0 END
                           AS seq_after,
                       CASE WHEN d.len >= 4096 THEN 0 ELSE d.len END
                           AS carry_after
                FROM docs d WHERE d.rn = 1
                UNION ALL
                SELECT d.rn, d.doc_id, d.len,
                       w.seq_after
                       + CASE WHEN w.carry_after > 0
                                   AND w.carry_after + d.len > 4096
                              THEN 1 ELSE 0 END AS pack,
                       w.seq_after
                       + CASE WHEN w.carry_after > 0
                                   AND w.carry_after + d.len > 4096
                              THEN 1 ELSE 0 END
                       + CASE WHEN (CASE WHEN w.carry_after > 0
                                              AND w.carry_after + d.len
                                                  > 4096
                                         THEN d.len
                                         ELSE w.carry_after + d.len END)
                                   >= 4096
                              THEN 1 ELSE 0 END AS seq_after,
                       CASE WHEN (CASE WHEN w.carry_after > 0
                                            AND w.carry_after + d.len
                                                > 4096
                                       THEN d.len
                                       ELSE w.carry_after + d.len END)
                                 >= 4096
                            THEN 0
                            ELSE (CASE WHEN w.carry_after > 0
                                            AND w.carry_after + d.len
                                                > 4096
                                       THEN d.len
                                       ELSE w.carry_after + d.len END)
                            END AS carry_after
                FROM walk w JOIN docs d ON d.rn = w.rn + 1
            ), packed AS (
                SELECT pack, doc_id, len,
                       (row_number() OVER (PARTITION BY pack
                                           ORDER BY doc_id) - 1)::INTEGER
                           AS pos
                FROM walk
            ), stats AS (
                SELECT pack, count(*) AS n_docs,
                       sum(len)::BIGINT AS total_tokens
                FROM packed GROUP BY pack)
            SELECT '0-' || pack::VARCHAR AS pack_id, pos, doc_id,
                   n_docs, total_tokens
            FROM packed JOIN stats USING (pack)""",
        # features leg (r7 fold): the purity property — one feature
        # vector per distinct blob — rides the frames row, mapped onto
        # its columns (doc_id <- n_groups, frame_off <- n_consistent)
        "multimodal_frames": """
            WITH m AS (SELECT doc_id, octet_length(encode(text)) AS nb,
                              octet_length(encode(text)) % 7 AS f
                       FROM documents)
            SELECT 'frames' AS leg, doc_id, u::INTEGER AS frame_idx,
                   u * (nb // CASE WHEN f = 0 THEN 1 ELSE f END) AS frame_off,
                   nb AS n_bytes,
                   (nb % 640)::INTEGER AS fake_width,
                   (nb % 480)::INTEGER AS fake_height,
                   f::INTEGER AS fake_frames
            FROM (SELECT doc_id, nb, f,
                         unnest(CASE WHEN f > 0 THEN
                                generate_series(0, f - 1) ELSE [] END) AS u
                  FROM m)
            WHERE u % 2 = 0
            UNION ALL
            SELECT 'features' AS leg,
                   count(DISTINCT md5(text)) AS doc_id,
                   NULL::INTEGER AS frame_idx,
                   count(DISTINCT md5(text)) AS frame_off,
                   NULL::BIGINT AS n_bytes, NULL::INTEGER AS fake_width,
                   NULL::INTEGER AS fake_height, NULL::INTEGER AS fake_frames
            FROM documents""",
        "events_window": """
            SELECT (floor(epoch(ts) / 300) * 300)::BIGINT AS win_start,
                   event_type, count(*) AS n, round(sum(value), 2) AS sv
            FROM events GROUP BY 1, 2""",
        "json_extract": """
            SELECT json_extract_string(props, '$.k')::INT AS k,
                   count(*) AS n, round(sum(value), 2) AS sv
            FROM events GROUP BY 1""",
        # round-trip gates: the oracle states the EXPECTED verification
        # result (every row matches after encode->decode); a codec bug on
        # the Spark side breaks the hash compare
        "roundtrip_verify": """
            SELECT count(*) AS rows, count(*) AS text_ok,
                   count(*) AS lang_ok,
                   1 AS fsck_healthy, 1 AS tamper_detected,
                   1 AS rename_ok, 1 AS widen_ok, 1 AS ds_ok
            FROM documents""",
        "roundtrip_tables": """
            SELECT (SELECT count(*) FROM lineitem) AS decoded_rows,
                   (SELECT count(*) FROM lineitem) AS orig_rows,
                   true AS rows_match, true AS content_match,
                   (SELECT count(*) FROM embeddings) AS emb_rows,
                   (SELECT count(*) FROM embeddings) AS vectors_ok""",
        "gorilla_roundtrip": """
            SELECT count(*) AS rows, count(*) AS vals_ok FROM events""",
        # epoch_us (not epoch-seconds-as-double) so the gap math matches the
        # Spark side's unix_micros exactly at any magnitude; CAST the HUGEINT
        # sum to BIGINT so DuckDB->pandas doesn't materialize float64 (r3's
        # one driver-hash mismatch was exactly that: 56.0 vs 56)
        "sessionization": """
            WITH x AS (
                SELECT user_id,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id)
                                 > 1800000000
                            OR lag(epoch_us(ts)) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id)
                                 IS NULL
                            THEN 1 ELSE 0 END AS brk
                FROM events)
            SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions
            FROM x GROUP BY user_id""",
        # session_window semantics: a new session starts when the gap to
        # the previous event is >= 30min (Spark merges only if ts < end);
        # end = last event + gap
        "session_stats": """
            WITH x AS (
                SELECT user_id, epoch_us(ts) AS e, value,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                                 (PARTITION BY user_id ORDER BY ts)
                                 >= 1800000000
                            OR lag(epoch_us(ts)) OVER
                                 (PARTITION BY user_id ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS brk
                FROM events),
            s AS (
                SELECT user_id, e, value,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY e
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM x)
            SELECT user_id, min(e) AS s_start,
                   max(e) + 1800000000 AS s_end,
                   count(*) AS n_events, round(sum(value), 2) AS sv
            FROM s GROUP BY user_id, sid""",
    }
