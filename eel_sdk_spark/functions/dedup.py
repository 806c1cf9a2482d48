"""Deduplication at corpus scale: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the part that matters at 10^12 docs):
- exact dedup is one hash-shuffle groupBy on a fingerprint — never on the
  raw text (shuffling 100 TB of text to dedup it is the classic mistake);
- MinHash/LSH banding turns all-pairs O(n²) into groupBy on band keys:
  only same-bucket candidates are pair-joined;
- the MinHash hash family is md5-based so the DuckDB oracle can replay it
  exactly (Spark xxhash64 has no DuckDB twin);
- SimHash packs 64 bit-counters per doc via one explode + groupBy-sum,
  then hamming-bucket joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens


# -- exact ----------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative per exact text. One shuffle on the
    md5 fingerprint (16 bytes), not the document body."""
    fp = F.md5(F.encode(F.col(text_col), "utf-8")).alias("fp")
    reps = (df.select(fp, F.col(id_col))
            .groupBy("fp").agg(F.min(id_col).alias(id_col)))
    return df.join(reps, id_col, "left_semi")


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Fingerprint groups with >1 member (audit view of duplicates)."""
    return (df.select(F.md5(F.encode(F.col(text_col), "utf-8")).alias("fp"),
                      F.col(id_col))
            .groupBy("fp")
            .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
            .filter(F.col("n_dups") > 1))


# -- minhash + LSH --------------------------------------------------------

def _minhash_token_hash(tok: Column, seed: int,
                        hash_family: str = "md5") -> Column:
    """Two families: 'md5' — h_i(t) = md5('<i>:' || t) compared as hex
    strings (lexicographic min == deterministic minhash), chosen because
    DuckDB can replay it exactly (the oracle gate); 'xxhash' — 64-bit JVM
    xxhash64(seed, t) with numeric min, ~3x cheaper per token (no hex
    string materialization), the production default at corpus scale."""
    if hash_family == "xxhash":
        return F.xxhash64(F.lit(seed).cast("long"), tok)
    return F.md5(F.encode(F.concat(F.lit(f"{seed}:"), tok), "utf-8"))


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       n_hashes: int = 8, shingle: int = 3,
                       hash_family: str = "md5") -> DataFrame:
    """One row per doc: sig_0..sig_{n-1} columns (min shingle hash per seed).

    Shingles (word n-grams, default 3), not unigrams: over a shared
    vocabulary unigram minhash collides constantly (measured: 5k synthetic
    docs -> 7.6M candidate pairs); shingles capture phrase-level identity,
    which is what near-dup means at web scale.

    Physical shape (r9): for the md5 family, ONE ``mapInArrow`` pass —
    each task builds its docs' distinct shingles, hashes them with
    hashlib (same md5), keeps per-seed digest-byte minima (byte order
    of the digest == lexicographic order of the hex string Spark's
    ``min(md5(...))`` compared), and memoizes gram→digests in a bounded
    per-task dict, so repeated shingles (Zipfian on real corpora) hash
    once per task, not once per occurrence. The historical explode +
    groupBy form planned a SortAggregate (min over variable-length
    strings has no mutable agg buffer) that sorted every gram row —
    measured 1.1-8.6 s at 50k docs depending on what Catalyst
    duplicated, vs a stable ~0.3 s for the kernel, signatures
    bit-identical. A narrow n-min ``aggregate`` fold was tried first
    and REJECTED: interpreted-HOF evaluation was 0.68 s at best but any
    downstream reference (a filter on a sig, band keys, a join)
    re-planned the whole fold per reference — CollapseProject treats
    struct-field extractions as collapsible — and session-to-session
    allocation churn swung it 0.6→1.9 s. The r4 rejection of
    ``array_min(transform(grams, h_i))`` (n transforms re-evaluate the
    gram array n times, ~13 s) stands. The xxhash family keeps a JVM
    fold (Spark's multi-arg xxhash64 has no cheap Python twin), guarded
    by a CHEAP token-count pre-filter instead of a sig-null post-filter
    (a filter referencing the fold output duplicates the fold)."""
    if hash_family == "md5":
        id_t = dict(df.dtypes)[id_col]
        sig_cols = [f"sig_{i}" for i in range(n_hashes)]
        ddl = ", ".join([f"{id_col} {id_t}"] + [f"{c} string"
                                                for c in sig_cols])

        def _kernel(batches):
            import pyarrow as pa
            cache: dict = {}
            for b in batches:
                out_ids, outs = [], [[] for _ in range(n_hashes)]
                for rid, mins in _min_digests_py(
                        b.column(0).to_pylist(), b.column(1).to_pylist(),
                        n_hashes, shingle, cache):
                    out_ids.append(rid)
                    for i in range(n_hashes):
                        outs[i].append(mins[i].hex())
                if out_ids:
                    yield pa.record_batch(
                        [pa.array(out_ids)] + [pa.array(o) for o in outs],
                        names=[id_col] + sig_cols)

        return (df.select(F.col(id_col), F.col(text_col))
                .mapInArrow(_kernel, ddl))

    grams = ngram_set(F.col(text_col), shingle) if shingle > 1 \
        else tokens(F.col(text_col))
    acc0 = F.struct(*[F.lit(None).cast("bigint").alias(f"m{i}")
                      for i in range(n_hashes)])

    def _step(acc, tok):
        return F.struct(*[
            F.least(acc[f"m{i}"],
                    _minhash_token_hash(tok, i, hash_family)).alias(f"m{i}")
            for i in range(n_hashes)])

    fold = F.aggregate(grams, acc0, _step)
    return (df.filter(F.size(tokens(F.col(text_col))) >= F.lit(shingle))
            .select(F.col(id_col), fold.alias("__sigs"))
            .select(F.col(id_col),
                    *[F.col("__sigs").getField(f"m{i}").alias(f"sig_{i}")
                      for i in range(n_hashes)]))


#: Per-task gram→digest memo cap: ~2^18 entries ≈ 25-30 MB per worker
#: (n_hashes 16-byte digests + the gram string). Big enough that a
#: Zipfian shingle distribution hits constantly, bounded so a 10^12-gram
#: corpus cannot OOM a worker.
_MINHASH_CACHE_MAX = 1 << 18


def _min_digests_py(ids, texts, n_hashes: int, shingle: int, cache: dict):
    """Per-doc minhash as raw md5 digests: yields (id, [min digest per
    seed]) for every doc with at least one shingle. Digest-byte
    comparison is hex-lexicographic comparison, so these minima are
    exactly Spark's ``min(md5('<seed>:' || gram))`` values."""
    from hashlib import md5 as _md5h

    prefixes = [f"{i}:".encode("utf-8") for i in range(n_hashes)]
    for rid, t in zip(ids, texts):
        toks = [w for w in (t or "").split(" ") if w]
        if len(toks) < shingle:
            continue
        if shingle > 1:
            grams = {" ".join(toks[k:k + shingle])
                     for k in range(len(toks) - shingle + 1)}
        else:
            grams = set(toks)
        mins = None
        for g in grams:
            hs = cache.get(g)
            if hs is None:
                gb = g.encode("utf-8")
                hs = tuple(_md5h(p + gb).digest() for p in prefixes)
                if len(cache) < _MINHASH_CACHE_MAX:
                    cache[g] = hs
            if mins is None:
                mins = list(hs)
            else:
                for i in range(n_hashes):
                    if hs[i] < mins[i]:
                        mins[i] = hs[i]
        yield rid, mins


def _band_keys_from(acc_fields, band_size: int, hash_family: str) -> Column:
    """Band-key array from a list of signature Columns (band b's key =
    hash of its ``band_size`` consecutive sigs — same construction as
    :func:`lsh_bands`, factored so it can run inside a fold's finish
    lambda)."""
    keys = []
    for b in range(len(acc_fields) // band_size):
        cols = acc_fields[b * band_size:(b + 1) * band_size]
        if hash_family == "xxhash":
            keys.append(F.xxhash64(*cols).cast("string"))
        else:
            keys.append(F.md5(F.encode(F.concat_ws("|", *cols), "utf-8")))
    return F.array(*keys)


def minhash_band_df(df: DataFrame, text_col: str, id_col: str,
                    n_hashes: int = 8, band_size: int = 2,
                    shingle: int = 3,
                    hash_family: str = "md5") -> DataFrame:
    """(id, band, band_key) straight from text in ONE narrow expression:
    the minhash fold of :func:`minhash_signatures` with the band keys
    computed in the fold's FINISH lambda, then one posexplode.

    md5 family: the same ``mapInArrow`` kernel as
    :func:`minhash_signatures` (digest-byte minima, bounded per-task
    gram memo) emitting (id, band, band_key) rows directly — the band
    key md5 runs over the joined hex strings exactly as
    ``md5(concat_ws('|', sig_b, sig_b+1))`` does, so keys are
    bit-identical to banding the signature columns. xxhash family: the
    n-min ``aggregate`` fold with band keys computed in the fold's
    FINISH lambda — one expression referenced once, so Catalyst has
    nothing to re-plan (banding per-sig COLUMNS inlined the whole fold
    once per sig reference: CollapseProject treats struct-field
    extractions as collapsible — measured 10.9 s vs 1.2 s at 50k
    docs). Docs with no shingles emit no band rows on either path,
    identical presence semantics to the explode+groupBy form."""
    n_bands = n_hashes // band_size
    if hash_family == "md5":
        from hashlib import md5 as _md5h

        id_t = dict(df.dtypes)[id_col]

        def _kernel(batches):
            import pyarrow as pa
            cache: dict = {}
            for b in batches:
                out_ids, out_band, out_key = [], [], []
                for rid, mins in _min_digests_py(
                        b.column(0).to_pylist(), b.column(1).to_pylist(),
                        n_hashes, shingle, cache):
                    for bi in range(n_bands):
                        sl = mins[bi * band_size:(bi + 1) * band_size]
                        key = _md5h("|".join(m.hex() for m in sl)
                                    .encode("utf-8")).hexdigest()
                        out_ids.append(rid)
                        out_band.append(bi)
                        out_key.append(key)
                if out_ids:
                    yield pa.record_batch(
                        [pa.array(out_ids),
                         pa.array(out_band, type=pa.int32()),
                         pa.array(out_key)],
                        names=[id_col, "band", "band_key"])

        return (df.select(F.col(id_col), F.col(text_col))
                .mapInArrow(_kernel,
                            f"{id_col} {id_t}, band int, band_key string"))

    grams = ngram_set(F.col(text_col), shingle) if shingle > 1 \
        else tokens(F.col(text_col))
    acc0 = F.struct(*[F.lit(None).cast("bigint").alias(f"m{i}")
                      for i in range(n_hashes)])

    def _step(acc, tok):
        return F.struct(*[
            F.least(acc[f"m{i}"],
                    _minhash_token_hash(tok, i, hash_family)).alias(f"m{i}")
            for i in range(n_hashes)])

    empty = F.slice(F.array(F.lit("")), 1, 0)  # typed array<string>

    def _finish(acc):
        keys = _band_keys_from([acc[f"m{i}"] for i in range(n_hashes)],
                               band_size, hash_family)
        return F.when(acc["m0"].isNotNull(), keys).otherwise(empty)

    fold = F.aggregate(grams, acc0, _step, _finish)
    return df.select(
        F.col(id_col),
        F.posexplode(fold).alias("band", "band_key"))


def lsh_bands(sigs: DataFrame, id_col: str, n_hashes: int = 8,
              band_size: int = 2, hash_family: str = "md5") -> DataFrame:
    """(id, band_idx, band_key): band_key = hash of the band's sigs.

    One ``posexplode`` pass instead of n_bands unioned scans — the sigs
    aggregation upstream is computed once, not once per band."""
    keys = _band_keys_from([F.col(f"sig_{i}") for i in range(n_hashes)],
                           band_size, hash_family)
    return sigs.select(
        F.col(id_col),
        F.posexplode(keys).alias("band", "band_key"))


def minhash_candidate_pairs(df: DataFrame, text_col: str, id_col: str,
                            n_hashes: int = 8, band_size: int = 2,
                            hash_family: str = "md5",
                            max_bucket: int | None = 1000) -> DataFrame:
    """Near-dup candidate pairs (a < b) sharing at least one LSH band.
    The join is per-bucket (band, band_key) — the only all-pairs blow-up
    possible is inside one bucket.

    ``max_bucket`` guards the degenerate-bucket quadratic: ONE band key
    shared by k docs yields k·(k−1)/2 pairs, and at web scale a single
    boilerplate/empty-text signature can put millions of docs in one
    bucket — a straggler task that never finishes. Buckets larger than
    ``max_bucket`` members are excluded from pair generation (they are
    near-certain boilerplate; exact dedup upstream already collapsed true
    exact duplicates, and a capped bucket is recoverable by a second pass
    at a coarser band). ``max_bucket=None`` disables the guard
    (unbounded — small-corpus oracle replay only).

    Plan shape (r9): ONE combinable groupBy on (band, band_key)
    collecting the bucket's sorted member ids, then an indexed double
    explode emits each bucket's C(k,2) pairs — the signature fold and
    band explode run exactly ONCE by construction. The historical
    self-join form computed the signature subtree once per join branch:
    its claimed AQE map-stage sharing stopped applying once the
    signature fold went narrow (no low exchange to share — measured
    2.4 s vs 1.0 s for this shape on the 50k-doc corpus), and the
    bucket-cap COUNT window needed a per-bucket sort the aggregation
    does not. ``max_bucket`` is now a ``size(ids)`` filter on the
    aggregated bucket row — same excluded buckets, zero extra plan
    nodes. A doc appears at most once per (band, band_key), ids within
    a bucket are therefore unique, and the member list is sorted, so
    slice-before-position emits exactly the a < b pairs; the final
    distinct collapses pairs that collide in BOTH bands, as before."""
    bands = minhash_band_df(df, text_col, id_col, n_hashes, band_size,
                            hash_family=hash_family)
    buckets = (bands.groupBy("band", "band_key")
               .agg(F.array_sort(F.collect_list(id_col)).alias("__ids")))
    if max_bucket is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket)
    return (buckets.filter(F.size("__ids") >= 2)
            .select(F.col("__ids"),
                    F.posexplode("__ids").alias("__j", "b"))
            .select(F.explode(F.slice("__ids", 1, F.col("__j"))).alias("a"),
                    F.col("b"))
            .distinct())


# -- incremental (append-batch) dedup -------------------------------------

# Sidecar filename for a persisted signature store's build parameters.
# Underscore prefix => invisible to parquet readers, same convention as
# _SUCCESS. A store built under different minhash params silently
# matches no bands (near-dup detection degrades to exact-only), so the
# params travel WITH the store and readers fail fast on mismatch — the
# same contract the streaming dedup_epoch enforces via its manifest
# `dedup_cfg` property (ADVICE r5).
STORE_PARAMS_FILE = "_dedup_params.json"


def dedup_params(n_hashes: int = 8, shingle: int = 3,
                 band_size: int = 2, hash_family: str = "md5") -> dict:
    """Canonical params record for a signature store / incremental run."""
    return {"n_hashes": int(n_hashes), "shingle": int(shingle),
            "band_size": int(band_size), "hash_family": str(hash_family)}


def write_store_params(store_path: str, params: dict) -> None:
    """Persist the build params sidecar inside a signature-store dir."""
    import json
    import os

    with open(os.path.join(store_path, STORE_PARAMS_FILE), "w") as f:
        json.dump(params, f, sort_keys=True)


def validate_store_params(store_path: str, params: dict) -> None:
    """Fail fast when a persisted store's sidecar disagrees with the
    params the caller is about to band with. A store written before the
    sidecar existed (no file) passes — the schema check in
    :func:`incremental_dup_ids` still catches n_hashes drift."""
    import json
    import os

    p = os.path.join(store_path, STORE_PARAMS_FILE)
    if not os.path.exists(p):
        return
    with open(p) as f:
        stored = json.load(f)
    mismatched = {k: (stored.get(k), params[k]) for k in params
                  if k in stored and stored[k] != params[k]}
    if mismatched:
        raise ValueError(
            f"signature store {store_path} was built with "
            f"{ {k: v[0] for k, v in mismatched.items()} } but this run "
            f"uses { {k: v[1] for k, v in mismatched.items()} }; "
            "band keys would never collide — rebuild the store or pass "
            "matching --dedup-* params")


def signature_store(df: DataFrame, text_col: str, id_col: str,
                    n_hashes: int = 8, shingle: int = 3,
                    hash_family: str = "md5") -> DataFrame:
    """Per-document dedup state to PERSIST alongside a corpus snapshot:
    (id, fp, sig_0..sig_{n-1}) — the md5 exact fingerprint plus the
    MinHash signature row. This is what makes dedup INCREMENTAL at
    10^12 docs: future batches are checked against this narrow table
    (~100 bytes/doc) instead of re-reading and re-shingling the corpus
    text. Docs with no shingles (shorter than the shingle width) keep
    their fp with null sigs — exact-dedupable, not near-dupable."""
    fps = df.select(F.col(id_col),
                    F.md5(F.encode(F.col(text_col), "utf-8")).alias("fp"))
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle,
                              hash_family)
    return fps.join(sigs, id_col, "left")


def dedupe_store_rows(store: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One row per fingerprint: identical fp means identical text means
    an identical signature row (sigs are pure content hashes), so
    ``min()`` per column is exact, keeps the min-id representative, and
    collapses the duplicate rows that accumulate when overlapping
    corpora are appended to a store across increments. One combinable
    groupBy on the 16-byte fp — text never existed here to move.
    ``store_epoch`` (when present, added by compact_store) keeps the
    MAX: a fp seen again in a later epoch must expire with its LATEST
    sighting, not its first."""
    aggs = [(F.max(c) if c == "store_epoch" else F.min(c)).alias(c)
            for c in store.columns if c != "fp"]
    return store.groupBy("fp").agg(*aggs).select(*store.columns)


def incremental_dup_ids(new_df: DataFrame, store: DataFrame,
                        text_col: str, id_col: str,
                        n_hashes: int = 8, band_size: int = 2,
                        shingle: int = 3, hash_family: str = "md5",
                        max_bucket: int | None = 1000,
                        within_batch: bool = True,
                        verify_threshold: float | None = None) -> DataFrame:
    """Ids of NEW-batch docs that duplicate the existing corpus (exact
    fingerprint match OR an LSH band collision with a stored signature),
    plus — with ``within_batch`` — duplicates inside the batch itself
    (keeping the min-id representative, same rule as the batch ops).

    Scale shape, the whole point of the store: the existing corpus
    contributes ONLY its signature table — its text is never read, never
    shingled, never shuffled. The exact check joins 16-byte fingerprints;
    the near check joins (id, band_key) pairs banded FROM THE STORED sig
    columns; the new batch (small by definition — one crawl increment)
    is the only side that pays signature computation. ``max_bucket``
    caps degenerate band buckets on the combined band frame, same guard
    and same rationale as :func:`minhash_candidate_pairs`.

    Near-dup flags AGAINST THE STORE are candidate-level (band
    collision), exactly like the first phase of :func:`jaccard_pairs` —
    the store retains no text, by design, so exact verification there
    needs a downstream join against the flagged docs' text.
    WITHIN the batch both texts are at hand: ``verify_threshold`` runs
    the full LSH->Jaccard two-phase there (drop b only when
    jaccard >= threshold) instead of candidate-level flagging."""
    from pyspark.sql import Window

    # schema-level fail-fast: the store must carry exactly sig_0..sig_{n-1}
    # — a store built with a different n_hashes would band on different
    # row slices and silently match nothing (ADVICE r5)
    store_sigs = sorted(c for c in store.columns if c.startswith("sig_"))
    want_sigs = sorted(f"sig_{i}" for i in range(n_hashes))
    if store_sigs != want_sigs:
        raise ValueError(
            f"signature store has columns {store_sigs} but n_hashes="
            f"{n_hashes} expects {want_sigs}; the store was built under "
            "different minhash params — near-dup bands would never "
            "collide. Rebuild the store or pass its build params.")

    new_store = signature_store(new_df, text_col, id_col, n_hashes,
                                shingle, hash_family)
    exact_hits = (new_store
                  .join(store.select("fp").distinct(), "fp", "left_semi")
                  .select(id_col))

    sig_cols = [f"sig_{i}" for i in range(n_hashes)]
    old_bands = lsh_bands(
        store.filter(F.col("sig_0").isNotNull())
        .select(id_col, *sig_cols),
        id_col, n_hashes, band_size, hash_family)
    new_bands = lsh_bands(
        new_store.filter(F.col("sig_0").isNotNull())
        .select(id_col, *sig_cols),
        id_col, n_hashes, band_size, hash_family)
    if max_bucket is not None:
        # cap on the OLD side: a boilerplate band key shared by millions
        # of stored docs would otherwise make every matching new doc a
        # straggler join row (the new side is batch-sized and safe)
        w = Window.partitionBy("band", "band_key")
        old_bands = (old_bands.withColumn("__bsz", F.count("*").over(w))
                     .filter(F.col("__bsz") <= max_bucket).drop("__bsz"))
    near_hits = (new_bands
                 .join(old_bands.select("band", "band_key").distinct(),
                       ["band", "band_key"], "left_semi")
                 .select(id_col))

    flagged = exact_hits.unionByName(near_hits)
    if within_batch:
        batch_exact = (new_store.groupBy("fp")
                       .agg(F.min(id_col).alias("__keep"),
                            F.collect_set(id_col).alias("__ids"))
                       .select(F.explode("__ids").alias(id_col), "__keep")
                       .filter(F.col(id_col) != F.col("__keep"))
                       .select(id_col))
        # candidates from the ALREADY-banded batch signatures (the store
        # check computed them above) — re-deriving them from text via
        # minhash_candidate_pairs would pay the shingle explode twice
        # (measured: the explode is ~3/4 of this op's wall)
        self_bands = new_bands
        if max_bucket is not None:
            w = Window.partitionBy("band", "band_key")
            self_bands = (self_bands
                          .withColumn("__bsz", F.count("*").over(w))
                          .filter(F.col("__bsz") <= max_bucket)
                          .drop("__bsz"))
        ca = self_bands.select("band", "band_key",
                               F.col(id_col).alias("a"))
        cb = self_bands.select("band", "band_key",
                               F.col(id_col).alias("b"))
        cands = (ca.join(cb, ["band", "band_key"])
                 .filter(F.col("a") < F.col("b"))
                 .select("a", "b").distinct())
        if verify_threshold is not None:
            grams = new_df.select(F.col(id_col),
                                  ngram_set(F.col(text_col)).alias("g"))
            ga = grams.select(F.col(id_col).alias("a"),
                              F.col("g").alias("ga"))
            gb = grams.select(F.col(id_col).alias("b"),
                              F.col("g").alias("gb"))
            joined = cands.join(ga, "a").join(gb, "b")
            inter = F.size(F.array_intersect("ga", "gb"))
            union = F.size(F.array_union("ga", "gb"))
            jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
            cands = joined.filter(jac >= verify_threshold).select("a", "b")
        batch_near = cands.select(F.col("b").alias(id_col))
        flagged = (flagged.unionByName(batch_exact)
                   .unionByName(batch_near))
    return flagged.distinct()


def incremental_dedup(new_df: DataFrame, store: DataFrame,
                      text_col: str, id_col: str, **kwargs) -> DataFrame:
    """The append-batch clean pass: drop every new doc flagged by
    :func:`incremental_dup_ids`, return the survivors (whose
    ``signature_store`` rows the caller unions into the persisted store
    for the next increment). Anti-join on ids only — no text moves."""
    bad = incremental_dup_ids(new_df, store, text_col, id_col, **kwargs)
    return new_df.join(bad, id_col, "left_anti")


# -- n-gram jaccard -------------------------------------------------------

def ngram_set(col: Column, n: int = 3) -> Column:
    """Distinct word-n-gram strings of a text column (JVM array ops).

    Built as ``zip_with`` over n shifted ``slice``s of the token array,
    NOT as ``transform(sequence(...), i -> element_at(toks, i+k))``: the
    element_at form re-evaluates the whole ``toks`` expression (split +
    filter over the text) for EVERY element access, because higher-order
    lambdas run interpreted with no common-subexpression elimination —
    measured 3.8 s vs 0.3 s for the 5k-doc sf0.1 gram pass (r9), an
    O(tokens²)-per-doc trap. The slice form evaluates ``toks`` O(n)
    times per ROW and each zip_with lambda is a cheap two-string concat.

    Documents with fewer than ``n`` tokens yield an EMPTY set (the
    ``when`` guard, kept from the element_at era: a short or empty doc
    must not crash a dedup job at scale)."""
    toks = tokens(col)
    if n == 1:
        return F.array_distinct(toks)
    cnt = F.size(toks)
    m = F.greatest(cnt - (n - 1), F.lit(0))  # gram count, >= 0
    z = F.slice(toks, 1, m)
    for k in range(1, n):
        z = F.zip_with(z, F.slice(toks, k + 1, m),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    empty = F.slice(F.split(F.lit(""), " "), 1, 0)  # typed string[]
    return F.array_distinct(F.when(cnt >= F.lit(n), z).otherwise(empty))


def jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                  n: int = 3, threshold: float = 0.5,
                  n_hashes: int = 8, band_size: int = 2,
                  max_bucket: int | None = 1000) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from minhash LSH: LSH
    prunes, Jaccard verifies — the standard two-phase web-dedup shape."""
    cands = minhash_candidate_pairs(df, text_col, id_col, n_hashes, band_size,
                                    max_bucket=max_bucket)
    grams = df.select(F.col(id_col), ngram_set(F.col(text_col), n).alias("g"))
    ga = grams.select(F.col(id_col).alias("a"), F.col("g").alias("ga"))
    gb = grams.select(F.col(id_col).alias("b"), F.col("g").alias("gb"))
    joined = cands.join(ga, "a").join(gb, "b")
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (joined.select("a", "b", F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# -- simhash --------------------------------------------------------------

def simhash_md5(df: DataFrame, text_col: str, id_col: str,
                bits: int = 60) -> DataFrame:
    """60-bit SimHash over an md5-derived token hash — same construction
    as :func:`simhash` but with a hash family DuckDB can replay exactly
    (``('0x'||substr(md5(tok),1,15))::BIGINT`` == Spark
    ``conv(substr(md5(tok),1,15),16,10)``), so the driver's oracle can
    hash-compare the signatures.

    Runs as ONE ``mapInArrow`` pass (r9, guide §4.2): the expression
    form — explode tokens, md5+conv per row, a 61-column groupBy of
    per-bit one-counts — measured 1.14 s at 50k docs, ~0.8 s of it the
    61-slot aggregation buffer over 2.7 M exploded rows. Here each task
    hashes its docs' tokens with hashlib (same md5) and bit-counts with
    numpy ``add.reduceat`` per bit — no explode, no shuffle, ~0.3 s,
    and the signatures are integer-identical: the first 15 hex digits
    equal the first 8 digest bytes as a big-endian u64 shifted right a
    nibble, and the majority test (2·ones_b > n) is the same sign test
    the one-count aggregation used. Docs with zero tokens emit no row —
    identical presence semantics to the explode form."""
    import numpy as np
    import pyarrow as pa
    from hashlib import md5 as _md5h

    id_t = dict(df.dtypes)[id_col]
    shifts = list(range(bits))

    def _kernel(batches):
        # per-task token→hash memo (r9): token frequencies are Zipfian
        # (stopwords dominate), so hashing per INSTANCE paid ~10× more
        # md5 calls than per distinct token; bounded like the minhash
        # gram memo so a pathological vocabulary cannot OOM a worker
        hcache: dict = {}

        def _h64(w):
            h = hcache.get(w)
            if h is None:
                h = int.from_bytes(_md5h(w.encode("utf-8")).digest()[:8],
                                   "big") >> 4
                if len(hcache) < _MINHASH_CACHE_MAX:
                    hcache[w] = h
            return h

        for b in batches:
            ids = b.column(0).to_pylist()
            texts = b.column(1).to_pylist()
            out_ids, starts, all_lens, all_h = [], [], [], []
            pos = 0
            for i, t in enumerate(texts):
                toks = [w for w in (t or "").split(" ") if w]
                n = len(toks)
                if n == 0:
                    continue
                out_ids.append(ids[i])
                starts.append(pos)
                all_lens.append(n)
                all_h.extend(_h64(w) for w in toks)
                pos += n
            if not out_ids:
                continue
            hs = np.array(all_h, dtype=np.uint64)
            st = np.array(starts, dtype=np.int64)
            lens = np.array(all_lens, dtype=np.int64)
            sig = np.zeros(len(out_ids), dtype=np.int64)
            for bit in shifts:
                ones = np.add.reduceat(
                    ((hs >> np.uint64(bit)) & np.uint64(1)).astype(np.int64),
                    st)
                sig |= (ones * 2 > lens).astype(np.int64) << bit
            yield pa.record_batch(
                [pa.array(out_ids), pa.array(sig)],
                names=[id_col, "simhash"])

    return (df.select(F.col(id_col), F.col(text_col))
            .mapInArrow(_kernel, f"{id_col} {id_t}, simhash bigint"))


def md5_fp_simhash(df: DataFrame, text_col: str, id_col: str,
                   bits: int = 60) -> DataFrame:
    """Exact-dup md5 fingerprint AND the 60-bit md5 SimHash in ONE
    corpus pass (r9, guide §2.3/§4.2): ``(id, fp, simhash)`` per doc.

    Exists because running :func:`exact_dup_groups`-style md5 and
    :func:`simhash_md5` as two query legs scans and exchanges the full
    document text twice — at 100 TB that is the difference between one
    and two reads of the corpus.  The kernels are byte-identical to the
    separate forms: ``fp`` = ``md5(encode(text, 'utf-8'))`` hex (NULL
    text ⇒ NULL fp, matching Spark's null propagation), ``simhash`` =
    the same digest-prefix/majority construction as ``simhash_md5``
    with NULL for token-less docs (the separate form EMITS NO ROW for
    those — callers filter ``simhash IS NOT NULL`` to reproduce that)."""
    import numpy as np
    import pyarrow as pa
    from hashlib import md5 as _md5h

    id_t = dict(df.dtypes)[id_col]
    shifts = list(range(bits))

    def _kernel(batches):
        # same bounded per-task token→hash memo as simhash_md5 (r9)
        hcache: dict = {}

        def _h64(w):
            h = hcache.get(w)
            if h is None:
                h = int.from_bytes(_md5h(w.encode("utf-8")).digest()[:8],
                                   "big") >> 4
                if len(hcache) < _MINHASH_CACHE_MAX:
                    hcache[w] = h
            return h

        for b in batches:
            texts = b.column(1).to_pylist()
            fps: list = [None] * len(texts)
            sigs: list = [None] * len(texts)
            starts, lens, all_h, sig_idx = [], [], [], []
            pos = 0
            for i, t in enumerate(texts):
                if t is not None:
                    fps[i] = _md5h(t.encode("utf-8")).hexdigest()
                toks = [w for w in (t or "").split(" ") if w]
                n = len(toks)
                if n == 0:
                    continue
                sig_idx.append(i)
                starts.append(pos)
                lens.append(n)
                all_h.extend(_h64(w) for w in toks)
                pos += n
            if all_h:
                hs = np.array(all_h, dtype=np.uint64)
                st = np.array(starts, dtype=np.int64)
                ln = np.array(lens, dtype=np.int64)
                sig = np.zeros(len(st), dtype=np.int64)
                for bit in shifts:
                    ones = np.add.reduceat(
                        ((hs >> np.uint64(bit)) & np.uint64(1))
                        .astype(np.int64), st)
                    sig |= (ones * 2 > ln).astype(np.int64) << bit
                for j, i in enumerate(sig_idx):
                    sigs[i] = int(sig[j])
            yield pa.record_batch(
                [b.column(0), pa.array(fps, type=pa.string()),
                 pa.array(sigs, type=pa.int64())],
                names=[id_col, "fp", "simhash"])

    return (df.select(F.col(id_col), F.col(text_col))
            .mapInArrow(_kernel, f"{id_col} {id_t}, fp string, "
                                 f"simhash bigint"))


def simhash(df: DataFrame, text_col: str, id_col: str,
            bits: int = 64) -> DataFrame:
    """64-bit SimHash: per token take xxhash64, add ±1 per bit position,
    sign of the sum is the output bit. One explode + one groupBy: the
    bit-counter matrix is built with JVM array ops (no Python).

    Output: (id, simhash bigint)."""
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("tok"))
    h = F.xxhash64("tok")
    # Same one-count shape as simhash_md5 (r9): s_b > 0 ⟺ 2*ones_b > n.
    rows = toks.select(F.col(id_col), h.alias("h"))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1))).alias(f"o{b}")
        for b in range(bits - 1)]  # sign bit never used below
    summed = rows.groupBy(id_col).agg(*aggs)
    acc = F.lit(0).cast("long")
    for b in range(bits - 1):  # skip the sign bit to stay in signed range
        acc = acc + F.when(F.col(f"o{b}") * 2 > F.col("n"),
                           F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return summed.select(F.col(id_col), acc.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """Hamming-ball candidate join via 4-way band buckets (Charikar trick):
    pairs within hamming distance d <= 3 must agree on >= 1 of 4 16-bit
    bands; verify with bit_count on the xor."""
    sh = simhash(df, text_col, id_col)
    bandcols = [(F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)))
                .alias(f"b{i}") for i in range(4)]
    banded = sh.select(id_col, "simhash", *bandcols)
    pairs = None
    for i in range(4):
        a = banded.select(F.col(id_col).alias("a"),
                          F.col("simhash").alias("sa"), F.col(f"b{i}").alias("k"))
        b = banded.select(F.col(id_col).alias("b"),
                          F.col("simhash").alias("sb"), F.col(f"b{i}").alias("k"))
        p = a.join(b, "k").filter(F.col("a") < F.col("b")).drop("k")
        pairs = p if pairs is None else pairs.unionByName(p)
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (pairs.distinct()
            .select("a", "b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


# -- embedding near-dup ---------------------------------------------------

def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns — JVM higher-order
    functions (zip_with + aggregate), no UDF. Elements are cast to double
    first so results are IEEE-double identical to the DuckDB oracle.

    Zero-norm vectors (padding rows, failed embedders — they WILL exist
    in a 10^12-row table) yield 0.0: under Spark 4's default ANSI mode
    even double division by zero THROWS, so an unguarded ``dot/(na*nb)``
    lets one degenerate row kill the whole job."""
    # ONE interpreted fold, not three + four cast-transforms (r9): HOF
    # lambdas run outside codegen, so the old shape paid ~640 boxed
    # lambda calls per row (dot, na, nb each re-walking the cast
    # arrays). A struct accumulator walks the pair list once with the
    # SAME left-fold element order per accumulator, so dot/na/nb are
    # bit-identical to the three-fold form (verified: zero raw-double
    # mismatches on the sf0.1 embeddings) and the DuckDB twin still
    # replays it exactly. Measured 0.26 s → 0.18 s on the sf0.1 brute
    # scoring pass.
    #
    # The guard/ratio arithmetic lives in the fold's FINISH lambda
    # (r9, second pass): as a plain column expression it referenced the
    # fold struct five times (na+nb in the zero-norm guard, d+na+nb in
    # the ratio), and every reference INLINES the whole interpreted
    # fold — HOFs get no codegen subexpression elimination, so each
    # scored row walked the arrays five times (the ann_batch plan
    # carried five aggregate() copies per cos column). Inside finish
    # the accumulator is a bound lambda variable: evaluated once,
    # referenced for free. Same ops, same order, bit-identical results;
    # the outer coalesce reproduces the old `when(NULL > 0) -> 0.0`
    # path for a NULL array input (aggregate() of a NULL array is NULL
    # and finish never runs).
    z = F.zip_with(a, b, lambda x, y: F.struct(
        x.cast("double").alias("x"), y.cast("double").alias("y")))
    acc0 = F.struct(F.lit(0.0).alias("d"), F.lit(0.0).alias("na"),
                    F.lit(0.0).alias("nb"))

    def _finish(acc):
        denom = F.sqrt(acc["na"]) * F.sqrt(acc["nb"])
        return F.when(denom > 0, acc["d"] / denom).otherwise(F.lit(0.0))

    agg = F.aggregate(z, acc0, lambda acc, p: F.struct(
        (acc["d"] + p["x"] * p["y"]).alias("d"),
        (acc["na"] + p["x"] * p["x"]).alias("na"),
        (acc["nb"] + p["y"] * p["y"]).alias("nb")), _finish)
    return F.coalesce(agg, F.lit(0.0))


def cosine_sql(a_sql: str, b_sql: str) -> Column:
    """:func:`cosine` built from ONE SQL string (r9): the Column-API
    construction costs ~0.15 s of py4j round trips per instance (every
    lambda/struct/field is a JVM call), which dominated the ann query
    BUILD wall; ``F.expr`` parses the identical expression tree in one
    call. Operands are SQL fragments (a backtick-quoted column name or
    a literal built by :func:`array_lit_sql`) — use :func:`cosine` when
    you hold Column objects. Same ops, same fold order, same zero-norm
    and NULL-array semantics; parser output verified raw-double
    identical to the Column form on the bench embeddings."""
    return F.expr(
        f"coalesce(aggregate(zip_with({a_sql}, {b_sql}, "
        f"(x, y) -> named_struct('x', cast(x as double), "
        f"'y', cast(y as double))), "
        f"named_struct('d', cast(0.0 as double), "
        f"'na', cast(0.0 as double), 'nb', cast(0.0 as double)), "
        f"(acc, p) -> named_struct('d', acc.d + p.x * p.y, "
        f"'na', acc.na + p.x * p.x, 'nb', acc.nb + p.y * p.y), "
        f"acc -> case when sqrt(acc.na) * sqrt(acc.nb) > "
        f"cast(0.0 as double) then acc.d / (sqrt(acc.na) * sqrt(acc.nb)) "
        f"else cast(0.0 as double) end), cast(0.0 as double))")


def array_lit_sql(values) -> str:
    """SQL literal for a double array (repr round-trips the exact
    double: Python repr == shortest form == what the SQL parser reads
    back to the same bits)."""
    return "array(" + ", ".join(
        f"cast('{float(v)!r}' as double)" for v in values) + ")"


def embedding_near_dups(emb: DataFrame, id_col: str, vec_col: str,
                        threshold: float = 0.95,
                        n_planes: int = 8,
                        plane_hash: str = "xxhash",
                        max_bucket: int | None = 10_000) -> DataFrame:
    """Near-duplicate vectors: random-hyperplane LSH bucket join + exact
    cosine verify. Planes are derived deterministically from a hash of
    (plane, dim) so the bucketing is reproducible across runs/cluster
    sizes. ``plane_hash='md5'`` uses the md5-parity family DuckDB can
    replay (oracle-checkable); 'xxhash' is cheaper JVM-side.

    ``max_bucket`` is the same degenerate-bucket guard as
    ``minhash_candidate_pairs``: all-zero embeddings (dot = 0 ⇒ the SAME
    sign on every plane) or any mass-duplicated vector put k docs in one
    bucket and the pair join goes k² — at corpus scale one padding-vector
    bucket is a straggler that never finishes. Buckets above the cap are
    excluded from pair generation (count window over the join's own
    ``bucket`` exchange, measured free on the minhash twin);
    ``max_bucket=None`` disables (small-corpus oracle replay only)."""
    dim_idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)

    def comp_fn(p):
        if plane_hash == "md5":
            return lambda i: F.when(
                F.conv(F.substring(
                    F.md5(F.encode(F.concat(F.lit(f"{p}:"),
                                            i.cast("string")), "utf-8")),
                    1, 1), 16, 10).cast("int") % 2 == 0,
                F.lit(1.0)).otherwise(F.lit(-1.0))
        return lambda i: F.when(
            F.pmod(F.xxhash64(F.lit(p), i), F.lit(2)) == 0,
            F.lit(1.0)).otherwise(F.lit(-1.0))

    sign_bits = []
    for p in range(n_planes):
        # pseudo-random ±1 plane component per dimension
        comp = F.transform(dim_idx, comp_fn(p))
        dot = F.aggregate(F.zip_with(F.col(vec_col), comp, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        sign_bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = sign_bits[0]
    for s in sign_bits[1:]:
        bucket = bucket + s
    withb = emb.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("bucket")
        withb = (withb.withColumn("__bsz", F.count("*").over(w))
                 .filter(F.col("__bsz") <= max_bucket).drop("__bsz"))
    a = withb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"), "bucket")
    b = withb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("a") < F.col("b"))
    return (pairs.select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 4)
                         .alias("cos"))
            .filter(F.col("cos") >= threshold))


def semantic_dedup(emb: DataFrame, id_col: str, vec_col: str,
                   threshold: float = 0.95, n_list: int = 64,
                   max_cell: int | None = 10_000,
                   centroids=None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    technique): cluster embeddings into IVF cells, compare cosine only
    WITHIN a cell, and drop every row that has a smaller-id semantic
    duplicate (cos >= threshold) in its cell. Returns the surviving rows
    of ``emb`` (schema unchanged).

    Scale shape: centroids come from the bounded ``_lite_centroids``
    sample; per-row cell assignment is the same primitive the IVF index
    uses (codegen expression tree <=128 cells, broadcast numpy matmul
    above — unbounded n_list); the pair join shuffles only
    (cell, id, vector) and is blocked per cell, so all-pairs cost is
    bounded by the largest cell, and ``max_cell`` excludes degenerate
    cells from pair generation entirely (their members all SURVIVE —
    conservative, same guard as the LSH twins). Cross-cell near-dups are
    missed by construction — the SemDeDup trade; raise n_list for
    tighter cells, or use ``embedding_near_dups`` for LSH blocking.

    Survivor guarantee: no two survivors in the same cell have
    cos >= threshold (a later one would be dominated by the earlier) —
    chains may drop more than one-per-pair, exactly like SemDeDup's
    keep-one-per-cluster-dup-set.

    ``centroids`` — optional explicit codebook (e.g. a
    :func:`~eel_sdk_spark.functions.similarity.kmeans`-trained one, or
    the centroids of an existing :class:`IvfIndex` so the dedup's cells
    line up with the serving index); default is the bounded
    ``_lite_centroids`` sample."""
    import numpy as np

    from .similarity import _lite_centroids, assign_cells

    cents = (np.asarray(centroids, dtype=np.float64)
             if centroids is not None
             else _lite_centroids(emb, vec_col, n_list))
    if len(cents) == 0:
        return emb
    assigned = assign_cells(emb, cents, vec_col)
    if max_cell is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("cell")
        assigned = (assigned.withColumn("__csz", F.count("*").over(w))
                    .filter(F.col("__csz") <= max_cell).drop("__csz"))
    # Within-cell dominance as ONE numpy pass per cell (r9, guide §4.2):
    # the old shape joined the cell with itself and ran the interpreted
    # cosine fold per PAIR — ~64·|cell|² boxed lambda calls, and with 8
    # explicit cells only 8 join partitions ever had work (measured
    # 12-15 s on 2 000 vectors / 8 cells; this kernel: <1 s).  Each
    # cell group lands in one task; a blocked V·Vᵀ matmul scores all
    # pairs.  Decisions are PROVABLY the JVM fold's: per-element
    # products are identical float64 ops, the only difference is
    # summation order, whose relative error is < 64·eps ≈ 1.4e-14 —
    # any pair within 1e-9 of the threshold is re-decided by an exact
    # sequential left-fold replay, so a reordered sum can never flip a
    # comparison (zero-norm rows hit the same `denom > 0 -> 0.0`
    # guard; a NaN component fails the >= on both paths).
    import math

    import pandas as pd

    id_field = assigned.schema[id_col]
    id_t = id_field.dataType.simpleString()
    thr = float(threshold)
    dim = cents.shape[1]

    def _exact_cos(u, v) -> float:
        d = na = nb = 0.0
        for x, y in zip(u.tolist(), v.tolist()):
            d += x * y
            na += x * x
            nb += y * y
        den = math.sqrt(na) * math.sqrt(nb)
        return d / den if den > 0 else 0.0

    def _dominated(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # a NULL or off-dimension vector has a NULL cosine under the
        # JVM fold, so it neither dominates nor is dominated: split it
        # off before the stack and let it pass through
        ok = pdf[vec_col].map(lambda v: v is not None and len(v) == dim)
        pdf = pdf[ok.to_numpy(dtype=bool)]
        ids = pdf[id_col].to_numpy()
        if not len(ids):
            return pd.DataFrame({id_col: pd.Series(ids)})
        order = np.argsort(ids, kind="stable")
        ids_s = ids[order]
        V = np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf[vec_col].iloc[order]])
        norms = np.sqrt(np.einsum("ij,ij->i", V, V))
        n = len(ids_s)
        dom = np.zeros(n, dtype=bool)
        bs = max(1, min(1024, (1 << 22) // max(n, 1)))  # ≤32 MB/block
        for s0 in range(0, n, bs):
            hi = min(s0 + bs, n)
            G = V[s0:hi] @ V.T
            D = norms[s0:hi, None] * norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(D > 0, G / D, 0.0)
            for bi, j in np.argwhere(np.abs(C - thr) < 1e-9):
                if s0 + bi != j:
                    C[bi, j] = _exact_cos(V[s0 + bi], V[j])
            ge = C >= thr
            for bi in range(hi - s0):
                ge[bi, :s0 + bi + 1] = False  # only i < j dominates j
            dom |= ge.any(axis=0)
        return pd.DataFrame({id_col: pd.Series(ids_s[dom])})

    dominated = (assigned.select("cell", id_col, vec_col)
                 .groupBy("cell")
                 .applyInPandas(_dominated, f"{id_col} {id_t}"))
    return emb.join(dominated, id_col, "left_anti")


# -- benchmark decontamination ---------------------------------------------

def contaminated_ids(corpus: DataFrame, text_col: str, id_col: str,
                     benchmark: DataFrame, bench_text_col: str,
                     n: int = 13) -> DataFrame:
    """Training-data decontamination (the GPT-3 appendix-C rule, public):
    flag every corpus document sharing at least one ``n``-gram (default
    13 words) with any benchmark/eval document, so held-out benchmarks
    stay held out.

    Scale shape: the benchmark side is SMALL by definition (eval suites
    are MBs) — its distinct gram hashes broadcast; the corpus side is one
    explode + broadcast LEFT SEMI join, so corpus text never shuffles and
    the output is just the flagged ids. Gram identity is a 64-bit
    xxhash64 — at 13-word grams a collision marks an extra doc for
    removal (safe direction: decontamination may over-drop, never
    under-drop on a true overlap)."""
    bench = (benchmark.select(F.explode(
        _window_hashes(F.col(bench_text_col), n)).alias("__bh"))
        .distinct())
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(_window_hashes(F.col(text_col), n)).alias("__bh"))
    return (corpus_grams
            .join(F.broadcast(bench), "__bh", "left_semi")
            .select(id_col).distinct())


def _window_hashes(col: Column, n: int) -> Column:
    """64-bit hash per word-``n``-gram WITHOUT materializing gram strings:
    hash each token once, then chain-fold each length-``n`` window of
    token hashes with xxhash64(acc, h) — order-sensitive, long-only JVM
    work. Building 13-gram STRINGS (n element_at + concat per gram) was
    measured ~20x slower at n=13; this keeps decontamination at
    explode-cost. Docs shorter than ``n`` tokens yield no windows.

    Shape (r9): the fold runs as a zip_with CHAIN over n shifted slices
    of the token-hash array — NOT as ``transform(idx, i ->
    aggregate(slice(th, i+1, n), ...))``, whose interpreted lambda
    re-evaluates the whole tokenize+hash expression per WINDOW
    (O(tokens²) per doc — a 2000-token web page pays ~4M token hashes
    for its ~2000 windows). The chain evaluates it n times per ROW
    (linear), and each step applies the same xxhash64(acc, h) in the
    same order, so window hashes are bit-identical."""
    return _window_hash_chain(tokens(col), n)


def _window_hash_chain(toks: Column, n: int) -> Column:
    cnt = F.size(toks)
    m = F.greatest(cnt - (n - 1), F.lit(0))
    th = F.transform(toks, lambda t: F.xxhash64(t))
    zero = F.lit(0).cast("long")
    acc = F.transform(F.slice(th, 1, m), lambda h: F.xxhash64(zero, h))
    for k in range(1, n):
        acc = F.zip_with(acc, F.slice(th, k + 1, m),
                         lambda a, h: F.xxhash64(a, h))
    empty = F.slice(F.array(zero), 1, 0)  # typed array<long>
    return F.when(cnt >= F.lit(n), acc).otherwise(empty)


def decontaminate(corpus: DataFrame, text_col: str, id_col: str,
                  benchmark: DataFrame, bench_text_col: str,
                  n: int = 13) -> DataFrame:
    """Drop contaminated documents (see :func:`contaminated_ids`);
    anti-join on ids only — the corpus body never shuffles."""
    bad = contaminated_ids(corpus, text_col, id_col, benchmark,
                           bench_text_col, n)
    return corpus.join(bad, id_col, "left_anti")


# -- exact substring (span-level) dedup -------------------------------------

def _window_pos_hashes(col: Column, n: int, hash_family: str = "xxhash") -> Column:
    """Array of per-window hashes (index i = window starting at token i).
    'xxhash': the chain-fold of :func:`_window_hashes` (fast, JVM-only).
    'md5': md5 of the space-joined gram string — ~20x slower but exactly
    replayable in DuckDB (the oracle/test family, same trade as
    minhash's hash_family).

    Both families run as zip_with chains over shifted slices (same
    O(tokens²) -> O(n·tokens) rationale as :func:`_window_hash_chain` /
    :func:`ngram_set`; identical values — the md5 gram string is the
    same chained space-concat, the xxhash fold the same op order)."""
    toks = tokens(col)
    cnt = F.size(toks)
    if hash_family == "md5":
        m = F.greatest(cnt - (n - 1), F.lit(0))
        z = F.slice(toks, 1, m)
        for k in range(1, n):
            z = F.zip_with(z, F.slice(toks, k + 1, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
        empty = F.slice(F.split(F.lit(""), " "), 1, 0)
        return F.when(
            cnt >= F.lit(n),
            F.transform(z, lambda g: F.md5(F.encode(g, "utf-8")))
        ).otherwise(empty)
    return F.transform(_window_hash_chain(toks, n),
                       lambda h: h.cast("string"))


def _merge_positions(ps: Column, window: int) -> Column:
    """Sorted window-start positions -> disjoint merged token spans
    array<struct<start,end>> (end exclusive). Single F.aggregate fold —
    O(positions) per doc, no UDF."""
    empty_spans = F.slice(F.array(F.struct(F.lit(0).alias("start"),
                                           F.lit(0).alias("end"))), 1, 0)
    init = F.struct(empty_spans.alias("arr"),
                    F.lit(-1).alias("cs"), F.lit(-1).alias("ce"))
    closed = lambda acc: F.concat(  # noqa: E731
        acc["arr"],
        F.array(F.struct(acc["cs"].alias("start"), acc["ce"].alias("end"))))

    def step(acc, p):
        return (F.when(acc["ce"] < 0,
                       F.struct(acc["arr"].alias("arr"), p.alias("cs"),
                                (p + window).alias("ce")))
                .when(p <= acc["ce"],
                      F.struct(acc["arr"].alias("arr"),
                               acc["cs"].alias("cs"),
                               F.greatest(acc["ce"], p + window).alias("ce")))
                .otherwise(F.struct(closed(acc).alias("arr"),
                                    p.alias("cs"), (p + window).alias("ce"))))

    return F.aggregate(
        ps, init, step,
        lambda acc: F.when(acc["ce"] < 0, acc["arr"])
        .otherwise(closed(acc)))


def duplicate_spans(df: DataFrame, text_col: str, id_col: str,
                    window: int = 50, min_count: int = 2,
                    hash_family: str = "xxhash",
                    keep: str = "first") -> DataFrame:
    """Exact-substring duplication at SPAN level (the Lee et al. 2021
    "Deduplicating Training Data" ExactSubstr pass, public technique):
    find every ``window``-token span whose content occurs >= ``min_count``
    times across the corpus (including self-repeats within one doc), and
    return the merged token spans each doc should CUT — every occurrence
    except the canonical one (``keep='first'``: the (min id, min pos)
    occurrence of each window keeps it; ``keep='none'``: every occurrence
    is cut). Doc-level near-dup (MinHash) misses a boilerplate paragraph
    pasted into thousands of otherwise-unique pages; this catches exactly
    that, at token resolution. Returns (id, start, end) disjoint merged
    spans, end exclusive, token units.

    Scale shape: tokens are hashed once and each window is a chain-fold
    over the token-hash array (no gram strings, see _window_hashes);
    only (id, pos, 8-byte hash) triples shuffle — document text never
    moves. The occurrence count rides ONE combinable groupBy on the
    hash; canonical-occurrence selection is a second COMBINABLE groupBy
    — min over struct(id, pos), partially aggregated map-side — joined
    back and excluded, NOT a row_number window: a window partitioned by
    the span hash puts all k occurrences of a universal banner into ONE
    sorted partition, a straggler exactly when this op matters (r6
    VERDICT #1; the hot hash now contributes one map-side partial per
    input partition instead of a k-row single-task sort). Span merging
    is a per-doc O(positions) fold. A window shared by k docs yields k
    rows (linear, not k²) — there is no pair join anywhere, so the
    boilerplate-megacluster blowup LSH needs bucket caps for cannot
    happen here."""
    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    wh = df.select(
        F.col(id_col),
        F.posexplode(_window_pos_hashes(F.col(text_col), window,
                                        hash_family))
        .alias("pos", "h"))
    counts = wh.groupBy("h").agg(F.count("*").alias("__n"))
    flagged = wh.join(counts.filter(F.col("__n") >= min_count)
                      .select("h"), "h", "left_semi")
    if keep == "first":
        # struct min is lexicographic => (min id, min pos) — identical
        # semantics to the old rn=1 under ORDER BY id, pos
        canon = flagged.groupBy("h").agg(
            F.min(F.struct(F.col(id_col).alias("i"),
                           F.col("pos").alias("p"))).alias("__c"))
        flagged = (flagged.join(canon, "h")
                   .filter((F.col(id_col) != F.col("__c.i"))
                           | (F.col("pos") != F.col("__c.p")))
                   .drop("__c"))
    spans = (flagged.groupBy(id_col)
             .agg(F.sort_array(F.collect_list("pos")).alias("__ps"))
             .select(F.col(id_col),
                     F.explode(_merge_positions(F.col("__ps"), window))
                     .alias("__s"))
             .select(id_col, F.col("__s.start").alias("start"),
                     F.col("__s.end").alias("end")))
    return spans


def remove_duplicate_spans(df: DataFrame, text_col: str, id_col: str,
                           window: int = 50, min_count: int = 2,
                           hash_family: str = "xxhash",
                           keep: str = "first",
                           spans: DataFrame | None = None) -> DataFrame:
    """Rewrite each document with its :func:`duplicate_spans` cut out
    (other columns pass through; docs with no spans are byte-identical
    ...almost: the rewrite is TOKEN-level, so documents that lose a span
    are re-joined with single spaces — the same token semantics every
    other dedup op here uses. Untouched docs keep their original text
    verbatim). ``spans`` accepts a precomputed span table (e.g. computed
    once per snapshot, applied to shards).

    The rebuild joins the (small) span table back and filters token
    indexes against each doc's few merged spans — O(tokens x
    merged_spans) per doc, merged_spans is tiny after merging. Caveat:
    a pathological document holding THOUSANDS of disjoint duplicated
    spans pays that product quadratically (nested interpreted HOFs, no
    codegen); such a doc is near-wholly duplicated and is better
    dropped by exact/near dedup upstream than rewritten here."""
    if spans is None:
        spans = duplicate_spans(df, text_col, id_col, window, min_count,
                                hash_family, keep)
    sp = (spans.groupBy(id_col)
          .agg(F.array_sort(F.collect_list(
              F.struct(F.col("start"), F.col("end")))).alias("__spans")))
    joined = df.join(sp, id_col, "left")
    toks = tokens(F.col(text_col))
    # filter the token array DIRECTLY with the (element, index) lambda
    # (r9): the old shape filtered an index sequence and re-built tokens
    # via element_at(toks, t+1), re-evaluating the tokenize expression
    # per KEPT element (O(tokens²) per rewritten doc). Same kept set,
    # same order, same single-space join.
    kept = F.filter(
        toks, lambda x, i: ~F.exists(
            F.col("__spans"),
            lambda s: (s["start"] <= i) & (i < s["end"])))
    rebuilt = F.concat_ws(" ", kept)
    out = joined.withColumn(
        text_col,
        F.when(F.col("__spans").isNull(), F.col(text_col))
        .otherwise(rebuilt)).drop("__spans")
    return out.select(*df.columns)


# -- duplicate clusters (connected components) ------------------------------

def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a pair list (a, b) -> (id, component)
    where component = the smallest id reachable from ``id``. Iterative
    min-label propagation: each round every node adopts the minimum label
    among itself and its neighbours; converges in O(graph diameter)
    rounds (checked per round, early exit). Near-dup clusters are
    shallow — the LSH min-id collides with every member — so real corpora
    converge in 2-3 rounds.

    Scale shape per round: one groupBy over the edge list (labels carried
    on 8-byte ids; document text never appears). The convergence signal
    is FOLDED into the merge result as a 0/1 column and summed off the
    same materialization — no second labels-vs-labels join per round.
    Each round's labels are ``localCheckpoint``-ed: lineage stays FLAT
    (round k does not replay rounds 1..k-1 — the round-over-round plan
    growth that stalls high-diameter graphs), and the previous round's
    blocks are released as the old frame is garbage collected.

    Exits with a ``RuntimeWarning`` if ``max_iter`` rounds did not
    converge (labels are then a correct-but-coarser upper approximation:
    some clusters may still carry >1 label)."""
    import warnings

    edges = (pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
             .unionByName(pairs.select(F.col("b").alias("src"),
                                       F.col("a").alias("dst")))
             .distinct().localCheckpoint(eager=False))
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("component", F.col("id")))
    changed = None
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges.src == labels.id)
                 .groupBy(F.col("dst").alias("id"))
                 .agg(F.min("component").alias("n_comp")))
        merged = (labels.join(neigh, "id", "left")
                  .select(
                      "id",
                      F.least("component",
                              F.coalesce("n_comp", "component"))
                      .alias("component"),
                      (F.col("n_comp") < F.col("component"))
                      .cast("int").alias("__chg"))
                  .localCheckpoint(eager=True))
        changed = merged.agg(F.coalesce(F.sum("__chg"), F.lit(0))).first()[0]
        labels = merged.drop("__chg")
        if changed == 0:
            break
    if changed:
        warnings.warn(
            f"connected_components: not converged after {max_iter} rounds "
            f"({changed} labels still moving) — graph diameter exceeds "
            f"max_iter; returned components are unmerged supersets",
            RuntimeWarning, stacklevel=2)
    return labels
