"""Per-partition lineage + idempotent resume for the encode pipeline.

Every encode run commits, in ONE atomic manifest commit (table.py), both
its new block files and the set of logical part_ids they cover, plus
per-part metrics (rows, raw/encoded bytes, codec mix) and an input
fingerprint. A restarted run reads the committed part_ids from the current
snapshot and anti-filters them from the input — work is either committed
and skipped or uncommitted and redone, never half-visible.

This is the reference's staged-commit idea (eel-hive/.../HiveSinkWriter.scala:78-101
writes to .staging then renames per-file) upgraded to snapshot semantics;
part_ids are content-derived (xxhash64 of the key column, encode.py), so
resume is valid across different cluster sizes.
"""

from __future__ import annotations

import os
from contextvars import ContextVar

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .encode import BLOCK_SCHEMA_DDL, encode_df
from .table import (ManifestTable, adopt_lineage, fold_renames,
                    retrying_rewrite)


def _check_key_type(schema, key: str, value,
                    what: str = "lookup") -> None:
    """Fail fast when a probe value's Python type disagrees with the
    key column's declared type (r6 guard): blooms hash strings via md5
    and ints via splitmix64, so a mismatched probe (int against a
    string-keyed table or vice versa) tests the WRONG hash family and
    the bloom tier would silently drop files/blocks that contain the
    value — a silent-empty-result bug, not a slow path. The residual
    filter's implicit cast would mask or ANSI-throw it; neither is
    acceptable for a lookup API. ``schema`` is the parsed row
    StructType."""
    from pyspark.sql.types import StringType

    try:
        f = next(f for f in schema.fields if f.name == key)
    except StopIteration:
        return  # key not in the decode schema; nothing to check
    is_str_col = isinstance(f.dataType, StringType)
    if is_str_col != isinstance(value, str):
        raise TypeError(
            f"{what}: key column {key!r} is "
            f"{f.dataType.simpleString()} but the probe value "
            f"{value!r} is {type(value).__name__} — pass the value in "
            "the key's own type (bloom/range pruning hashes each type "
            "differently and would silently miss)")


def lookup_files(spark: SparkSession, snap, key_value, key: str,
                 parts: set[int],
                 aliases: set[str] = frozenset()) -> list[str]:
    """The files a point lookup must decode: the part tier, then
    :func:`plan_files` per key COMPONENT, intersected. ``key_value`` is
    in the stored unit (``_stored_probe``); every tier runs in the
    driver, so ``spark`` is unused.

    Part coverage comes from the manifest (zero I/O): exact per-file
    part sets, vacuous on banded tables, where hash part ids make every
    file span all parts. A file survives the components only if each
    may hold its value; components may match in different rows, which
    over-approximates the tuple (the residual filter stays exact)."""
    from .encode import key_cols, key_values

    coverage: dict[str, list[int]] = {}
    for r in snap.properties.get("runs", []):
        coverage.update(r.get("file_parts", {}))
    # compaction rewrites files and re-records their coverage here
    coverage.update(snap.properties.get("file_parts_extra", {}))
    files = prune_files_by_part(snap.files, parts, coverage=coverage)
    for c, v in zip(key_cols(key), key_values(key, key_value)):
        names = {c} | (set(aliases) if isinstance(key, str)
                       else _key_aliases(snap, c))
        files = plan_files(snap, files, names, tiers=4, values=[v])
    return files


def _family(v) -> str | None:
    """The stats family a stored probe compares in: ``"s"`` for strings,
    ``"i"`` for integers (timestamps and dates once stored), None for
    values no key range, block stat or bloom covers."""
    if isinstance(v, str):
        return "s"
    if isinstance(v, int) and not isinstance(v, bool):
        return "i"
    return None


def plan_files(snap, files: list[str], names: set[str], *, tiers: int,
               values: list | None = None,
               interval: tuple | None = None) -> list[str]:
    """The file planner every read shares: the ``files`` that may hold a
    row whose key component — stored under any of ``names``, its current
    and historical names — equals one of ``values`` or lies in the
    closed ``interval`` ``(lo, hi)`` (None leaves a side open). Probes
    are in the stored unit: ``_stored_probe`` converts a Python value,
    ``deletes._stored_values`` an arrow column. Tiers 1 to ``tiers`` run
    once each, cheapest first:

    1. Manifest key ranges (zero I/O): each file's recorded ``[lo, hi]``
       is bisected into the sorted values, or tested for overlap with
       the interval. Effective when the input arrived clustered by the
       key (time-ordered appends, monotonic ids).
    2. Manifest summary blooms (zero I/O), values only.
    3. The bloom-index sidecar, read with pyarrow in one pass for all
       values, values only.
    4. The per-block key blooms of the files the index does not cover,
       one narrow read of each (``_read_block_rows``), values only.

    An interval has tier 1 alone, so it needs ``tiers >= 1``. A file
    survives when some value passes every tier: each tier tests only
    the values the tiers before left in that file. A file that lacks a
    tier's metadata passes it, and every file survives a probe that is
    not a string or an integer. The result may be empty."""
    from bisect import bisect_left, bisect_right

    base = os.path.basename
    ranges = _component_key_ranges(snap, names)
    # a hash-empty output file records zero rows and no range: no key
    empty = {b for r in snap.properties.get("runs", [])
             for b, st in (r.get("file_stats") or {}).items() if not st[0]}
    files = [f for f in files if base(f) not in empty]
    if values is None:
        lo, hi = interval
        fams = {_family(v) for v in (lo, hi) if v is not None}
        if len(fams) != 1 or None in fams or tiers < 1:
            return list(files)
        if lo is not None and hi is not None and lo > hi:
            return []
        fam = fams.pop()
        return [f for f in files
                if (r := ranges.get(base(f), {}).get(fam)) is None
                or ((lo is None or lo <= r[1])
                    and (hi is None or r[0] <= hi))]
    vals = [v for v in values if v is not None]
    fams = {_family(v) for v in vals}
    if len(fams) > 1 or None in fams:
        return list(files)
    vals = sorted(set(vals))
    fam = next(iter(fams), None)
    alive: dict[str, set] = {}
    for f in files:
        r = ranges.get(base(f), {}).get(fam)
        i, j = ((0, len(vals)) if r is None
                else (bisect_left(vals, r[0]), bisect_right(vals, r[1])))
        if i < j:  # tier 1 alone needs no per-file value sets
            alive[f] = set(vals[i:j]) if tiers > 1 else set()
    if tiers >= 2:
        _narrow(alive, lambda fs, v: summary_bloom_survivors(
            snap, fs, names, [v]))
    covered: set[str] = set()
    if tiers >= 3 and alive:
        got = _bloom_index_hits(
            snap, sorted(set().union(*alive.values())), names)
        if got is not None:
            covered, hits = got
            _narrow(alive, lambda fs, v: [
                f for f in fs
                if base(f) not in covered or base(f) in hits[v]])
    todo = {f: vs for f, vs in alive.items()
            if tiers >= 4 and base(f) not in covered}
    if todo:
        kept = _bloom_scan_files(todo, names)
        alive = {f: vs for f, vs in alive.items()
                 if f not in todo or f in kept}
    return [f for f in files if f in alive]


def _narrow(alive: dict[str, set], keep) -> None:
    """Run one value tier over ``alive`` (path -> the values it may still
    hold): ``keep(files, v)`` returns the ``files`` that may hold ``v``.
    A file left with no value is dropped."""
    by_value: dict = {}
    for f, vs in alive.items():
        for v in vs:
            by_value.setdefault(v, []).append(f)
    for v, fs in by_value.items():
        for f in set(fs).difference(keep(fs, v)):
            alive[f].discard(v)
    for f in [f for f, vs in alive.items() if not vs]:
        del alive[f]


def _component_key_ranges(snap, names: set[str]) -> dict[str, dict]:
    """Per-file [lo, hi] ranges recorded for ONE key component (under
    any of its ``names`` incl. historical renames): single-key runs'
    legacy ``file_key_ranges`` (their primary IS the component),
    composite runs' per-column ``file_key_ranges_cols``, and the
    compaction extra."""
    from .encode import key_cols

    key_ranges: dict[str, dict] = {}
    for r in snap.properties.get("runs", []):
        rkey = r.get("key")
        rprimary = key_cols(rkey)[0] if rkey is not None else None
        if rkey is None or rprimary in names:
            key_ranges.update(r.get("file_key_ranges", {}))
        byc = r.get("file_key_ranges_cols") or {}
        for n in names:
            key_ranges.update(byc.get(n, {}))
    kr_extra = snap.properties.get("file_key_ranges_extra", {})
    xk = kr_extra.get("key")
    if xk is not None and key_cols(xk)[0] in names:
        key_ranges.update(kr_extra.get("files", {}))
    return key_ranges


def prune_files_metadata(snap, files: list[str], key: str, key_value,
                         aliases: set[str] = frozenset()) -> list[str]:
    """:func:`plan_files` for one value without its per-file tier: key
    ranges, summary blooms and the bloom-index sidecar, read with
    pyarrow. No SparkSession and no data-file opens, so it also runs in
    contexts without a session. May return no file."""
    return plan_files(snap, files, {key} | set(aliases), tiers=3,
                      values=[key_value])


def summary_bloom_survivors(snap, files: list[str], names: set[str],
                            values: list) -> list[str]:
    """Tier 2: the files whose manifest SUMMARY bloom (under any of the
    component's ``names``) may hold ANY of ``values``; files without a
    summary (pre-summary, saturated or compaction-rewritten) are kept.
    Decoded word arrays are cached ON the snapshot object:
    base64+frombuffer per file per probe was the consult's whole cost
    (~0.35 ms x files), so repeat probes of one snapshot test bits
    directly."""
    from .encode import summary_may_contain

    summaries: dict[str, dict] = {}
    for r in snap.properties.get("runs", []):
        fsb = r.get("file_summary_blooms") or {}
        for n in names:
            summaries.update(fsb.get(n, {}))
    if not summaries:
        return list(files)
    cache = snap.__dict__.setdefault("_fsb_cache", {})
    return [f for f in files
            if (s := summaries.get(os.path.basename(f))) is None
            or any(summary_may_contain(s["b64"], v, cache)
                   for v in values)]


#: a bloom-index sidecar up to this size is read whole and cached on the
#: snapshot; a bigger one is streamed in record batches on every consult
_BLOOM_INDEX_PLAN_BUDGET = 256 << 20


def _bloom_index_verdicts_pyarrow(snap, key_value, names: set[str]):
    """Tier 3 for one value: (covered basenames, hit basenames), or
    None — see :func:`_bloom_index_hits`."""
    got = _bloom_index_hits(snap, [key_value], names)
    return None if got is None else (got[0], got[1][key_value])


def _bloom_index_hits(snap, values: list, names: set[str]):
    """Tier 3: (covered basenames, value -> hit basenames) from the bloom
    INDEX sidecar (``build_bloom_index``), computed with pyarrow+numpy
    in ONE pass over the sidecar for all ``values`` — or None when the
    snapshot has no index of the component or the sidecar is unreadable
    (degrade, never fail). Files committed after the build are absent
    from it. Each value's probe is vectorized over all block rows at
    once; NULL or empty blooms are a hit."""
    idx = snap.properties.get("bloom_index")
    if not idx or idx.get("key") not in names or not idx.get("files"):
        return None
    import numpy as _np
    import pyarrow.parquet as _pq

    from .encode import BLOOM_K, bloom_probe_seeds

    idx_files = idx["files"]
    cache = getattr(snap, "_bix_cache", None)
    covered: set[str] = set()
    hits: dict = {v: set() for v in values}
    try:
        if cache is not None and cache[0] == tuple(idx_files):
            chunks = [cache[1]]
        elif sum(os.path.getsize(f)
                 for f in idx_files) > _BLOOM_INDEX_PLAN_BUDGET:
            chunks = (_index_arrays(pa.Table.from_batches([b]))
                      for f in idx_files
                      for b in _pq.ParquetFile(f).iter_batches(
                          columns=["file", "key_bloom"]))
        else:
            chunks = [_index_arrays(pa.concat_tables(
                _pq.read_table(f, columns=["file", "key_bloom"],
                               use_threads=False) for f in idx_files))]
            snap._bix_cache = (tuple(idx_files), chunks[0])
        seeds = {v: bloom_probe_seeds(v) for v in values}
        for offsets, words, nulls, uniq, inv in chunks:
            sizes = offsets[1:] - offsets[:-1]
            m = _np.maximum(sizes * 64, 1)
            valid = (~nulls) & (sizes > 0)
            covered.update(uniq.tolist())
            for v, (h1, h2) in seeds.items():
                hit = _np.ones(len(sizes), dtype=bool)
                for i in range(BLOOM_K if words.size else 0):
                    p = (h1 + i * h2) % m
                    widx = _np.clip(offsets[:-1] + (p >> 6), 0,
                                    len(words) - 1)
                    bits = ((words[widx] >> (p & 63).astype(_np.uint64))
                            & _np.uint64(1)).astype(bool)
                    hit &= _np.where(valid, bits, True)
                agg = _np.zeros(len(uniq), dtype=bool)
                _np.logical_or.at(agg, inv, hit)
                hits[v].update(uniq[agg].tolist())
    except Exception:
        return None  # accelerator tier: degrade to the other tiers
    return covered, hits


def _index_arrays(t):
    """A bloom-index table as the numpy arrays the probe tests: bloom
    word offsets, words, null flags, distinct files and each row's
    file."""
    import numpy as _np

    arr = t.column("key_bloom").combine_chunks()
    offsets = arr.offsets.to_numpy().astype(_np.int64)
    values = arr.values.to_numpy(zero_copy_only=False) \
        .astype(_np.int64).view(_np.uint64)
    nulls = _np.asarray(arr.is_null())
    fl = _np.array(t.column("file").to_pylist(), dtype=object)
    uniq, inv = _np.unique(fl, return_inverse=True)
    return offsets, values, nulls, uniq, inv


#: the narrow block-row columns a lookup plans from: group identity,
#: exact part membership, encoded size, key stats and bloom words (no
#: payloads)
_BLOCK_ROW_COLS = ("part_id", "parts", "block_seq", "writer_uid", "col",
                   "enc_bytes", "min_i", "max_i", "min_s", "max_s",
                   "key_bloom")

#: ``_block_rows`` tables by path, shared by the tiers of ONE
#: ``point_lookup`` call (set for its duration), so the block-group plan
#: reuses the per-file bloom tier's read instead of repeating it
_BLOCK_ROWS_MEMO: ContextVar[dict | None] = ContextVar("_BLOCK_ROWS_MEMO",
                                                       default=None)


def _block_rows(path: str, columns=_BLOCK_ROW_COLS):
    """Every block row of ``path``, narrow ``columns`` only — footer +
    ~1% of the file's bytes. Columns a file's generation predates
    (``parts``, ``key_bloom``) are simply absent."""
    import pyarrow.dataset as ds

    d = ds.dataset(path, format="parquet")
    return d.to_table(
        columns=[c for c in columns if c in d.schema.names],
        use_threads=False)


def _read_block_rows(files: list[str], columns=None) -> list:
    """``_block_rows`` of every file (``columns``, default the lookup's
    ``_BLOCK_ROW_COLS``), read on a small thread pool (pyarrow releases
    the GIL) — the driver-side form of one narrow scan. Within a
    ``point_lookup`` each file is read once."""
    from concurrent.futures import ThreadPoolExecutor
    from functools import partial

    read = _block_rows if columns is None else partial(_block_rows,
                                                       columns=columns)
    memo = _BLOCK_ROWS_MEMO.get() if columns is None else None
    memo = {} if memo is None else memo
    todo = [f for f in dict.fromkeys(files) if f not in memo]
    if len(todo) <= 4:  # a pool costs more than it saves
        memo.update((f, read(f)) for f in todo)
    else:
        with ThreadPoolExecutor(max_workers=min(16, len(todo))) as ex:
            memo.update(zip(todo, ex.map(read, todo)))
    return [memo[f] for f in files]


def _rows_of(table, names):
    """The block rows of ``table`` whose ``col`` is one of ``names``."""
    import pyarrow.compute as pc

    return table.filter(pc.is_in(table.column("col"),
                                 value_set=pa.array(sorted(names))))



def _bloom_scan_files(alive: dict[str, set],
                      names: set[str]) -> dict[str, set]:
    """Tier 4: ``alive`` (path -> the values it may still hold) narrowed
    by each file's per-block key BLOOMS, read in the driver (footer +
    the key blocks' bloom words, ~1% of the file's bytes) — the
    hash-scattered layout's tier, where ranges overlap. A block without
    a bloom (a pre-bloom generation, ``key_bloom=False``) may hold any
    value; a file with no block of the key holds none. Blooms live in
    the data files, not the manifest: a bloom scales with value count
    (1M-row file @10 bits/key = ~1.25 MB). Reference analogue:
    eel-orc/.../OrcSink.scala:15-33 (bloomFilterColumns)."""
    from .encode import words_may_contain

    out: dict[str, set] = {}
    for (f, vs), t in zip(alive.items(), _read_block_rows(list(alive))):
        t = _rows_of(t, names)
        words = (t.column("key_bloom").to_pylist()
                 if "key_bloom" in t.column_names else [None] * t.num_rows)
        kept = {v for v in vs
                if any(not w or words_may_contain(w, v) for w in words)}
        if kept:
            out[f] = kept
    return out


def _plan_block_groups(table, names_by_col: dict[str, set[str]],
                       bounds: list[tuple],
                       parts: set[int] | None) -> tuple[set, int]:
    """The block groups of one file a read must decode, and their encoded
    bytes over every column, from its block rows (``_block_rows``): a
    group survives when, for EVERY key component, its block of that
    column is a member of a wanted part (``parts``; None wants all), its
    min/max stats meet the component's closed ``(lo, hi)`` bounds (in
    the stored unit; None leaves a side open, equality is ``lo == hi``)
    and, for equality, its bloom may hold the value — missing stats or
    blooms are conservatively a pass. Groups are ``(part_id, block_seq,
    writer_uid)``, the 3-key identity that keeps banded writers'
    same-seq groups apart."""
    from .encode import words_may_contain

    comp_of = {n: i for i, c in enumerate(names_by_col)
               for n in names_by_col[c]}
    cols = _rows_of(table, set(comp_of)).to_pydict()
    n = len(cols["col"])
    none = [None] * n
    passed: dict[tuple, set[int]] = {}
    for r in range(n):
        i = comp_of[cols["col"][r]]
        lo, hi = bounds[i]
        # pre-banding generations have no parts column: one part a block
        if parts is not None and parts.isdisjoint(
                cols.get("parts", none)[r] or [cols["part_id"][r]]):
            continue
        fam = _family(hi if lo is None else lo)
        if fam is not None:  # the values stats and blooms cover
            mn = cols.get(f"min_{fam}", none)[r]
            mx = cols.get(f"max_{fam}", none)[r]
            w = cols.get("key_bloom", none)[r]
            if ((mn is not None and hi is not None and hi < mn)
                    or (mx is not None and lo is not None and lo > mx)
                    or (lo == hi and w and not words_may_contain(w, lo))):
                continue
        g = (cols["part_id"][r], cols["block_seq"][r],
             cols["writer_uid"][r])
        passed.setdefault(g, set()).add(i)
    groups = {g for g, ok in passed.items() if len(ok) == len(bounds)}
    if not groups or "enc_bytes" not in table.column_names:
        return groups, 0
    ids = zip(*(table.column(c).to_pylist()
                for c in ("part_id", "block_seq", "writer_uid")))
    return groups, sum(b or 0 for g, b in zip(
        ids, table.column("enc_bytes").to_pylist()) if g in groups)


def _key_aliases(snap, key: str) -> set[str]:
    """Historical names of ``key`` under the snapshot's rename history
    (ManifestTable.rename_column) — blocks written pre-rename carry
    them, so every key-matching tier must accept them too."""
    fold = fold_renames(snap.properties.get("column_renames", []))
    return {h for h, c in fold.items() if c == key}


def build_bloom_index(spark: SparkSession, tbl: ManifestTable,
                      key: str = "url") -> dict:
    """Copy the current snapshot's per-block key blooms into a few
    narrow INDEX files and register them in the table properties — the
    manifest-level bloom summary tier (ORC's separate bloom streams /
    Iceberg's puffin sidecars, expressed as a parquet sidecar so the
    probe stays the same pure-Column expression).

    Why not blooms in the manifest JSON itself: a bloom scales with
    VALUE count (~1.25 MB per 1M-row file at 10 bits/key) — at 100k
    files that is a 100+ GB manifest nobody can load. The sidecar keeps
    the manifest O(bytes-per-file) while the lookup reads ~1% of the
    table's bytes from O(1) files instead of opening every candidate's
    footer. NULL-bloom block rows are indexed too (bloom_may_contain is
    conservatively true on NULL), so mixed-generation files stay
    correct; files with NO key rows at all (empty writes) simply stay
    uncovered and fall to the per-file scan, which drops them.

    Maintenance contract: the index describes the files that existed at
    build time. Appends and compaction survivors are absent -> lookups
    fall back to the per-file scan for exactly those files; re-run
    build_bloom_index to fold them in (the old index files are
    superseded in-place by the property swap and can be deleted)."""
    import uuid as _uuid

    snap = tbl.current()
    if snap is None or not snap.files:
        raise ValueError("build_bloom_index: table has no snapshot/files")
    nar = spark.read.option("mergeSchema", "true").parquet(*snap.files)
    if "key_bloom" not in nar.columns:
        raise ValueError("build_bloom_index: table has no key_bloom "
                         "column (encoded with key_bloom=False?)")
    out_dir = os.path.join(tbl.dir, "bloom_index", _uuid.uuid4().hex)
    n_out = max(1, len(snap.files) // 1024)
    (nar.filter(F.col("col") == key)
        .select(F.substring_index(F.input_file_name(), "/", -1)
                .alias("file"), "key_bloom")
        .coalesce(n_out)
        .write.mode("overwrite").parquet(out_dir))
    idx_files = ManifestTable.list_written_files(out_dir)
    prop = {"key": key, "files": idx_files,
            "as_of_snapshot": snap.snapshot_id}
    tbl.commit([], "", {"bloom_index": prop}, mode="append")
    return prop


FSCK_SCHEMA_DDL = ("file string, part_id int, block_seq int, "
                   "writer_uid bigint, col string, status string, "
                   "n_blocks bigint")


def fsck(spark: SparkSession, tbl: ManifestTable | None = None,
         files: list[str] | None = None,
         snapshot_id: int | None = None) -> DataFrame:
    """Distributed integrity scan of an encoded table: recompute every
    block's ``payload_crc`` against its stored value WITHOUT decoding
    values, and cross-check the manifest's file list against storage.

    Returns one DataFrame (schema ``FSCK_SCHEMA_DDL``) with:

    - one row per corrupted block — ``status='bad_crc'`` with the exact
      (file, part_id, block_seq, writer_uid, col) coordinates, so the
      operator can map damage to the specific parts/columns affected
      (and re-encode just those parts via the checkpoint lineage);
    - one ``status='ok'`` row per file carrying ``n_blocks`` verified
      clean (healthy blocks aggregate per file — at 100k files a
      per-healthy-block row set would dwarf the signal);
    - one ``status='no_crc'`` row per file counting blocks written
      before the crc column existed (uncovered, not failed — rewrite
      via ``ManifestTable.compact`` does NOT backfill crcs, a fresh
      encode does);
    - one ``status='missing_file'`` row per manifest entry that storage
      no longer serves (manifest/storage drift: a too-eager GC, a
      partial restore).

    The unit of work is the file, binned into tasks like the decode
    path (``encode.bin_files``; no Exchange); cost is a narrow columnar
    read of header+payload bytes + crc32 at memory speed — ~the
    cheapest full-table read possible, suitable as
    a scheduled audit on a 100 TB table. This is the integrity half the
    reference delegates to ORC's file checksums (eel-orc
    OrcSink.scala); here it spans any snapshot including time travel
    (``snapshot_id=``)."""
    snap = None
    if files is None:
        if tbl is None:
            raise ValueError("fsck: pass a ManifestTable or a files list")
        snap = (tbl.snapshot(snapshot_id) if snapshot_id is not None
                else tbl.current())
        if snap is None or not snap.files:
            raise FileNotFoundError(
                f"fsck: table {tbl.dir} has no committed snapshot")
        files = snap.files

    def _scan(paths):
        import zlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        for path in paths:
            base = os.path.basename(path)
            out = {"file": [], "part_id": [], "block_seq": [],
                   "writer_uid": [], "col": [], "status": [],
                   "n_blocks": []}

            def emit(status, n, part=None, seq=None, uid=None,
                     col=None):
                out["file"].append(base)
                out["part_id"].append(part)
                out["block_seq"].append(seq)
                out["writer_uid"].append(uid)
                out["col"].append(col)
                out["status"].append(status)
                out["n_blocks"].append(n)

            def typed_batch():
                # explicit types: an all-null column (missing_file
                # rows) must still match the declared int32/int64
                # fields, inference would make it null-typed
                return pa.record_batch(
                    [pa.array(out["file"], type=pa.string()),
                     pa.array(out["part_id"], type=pa.int32()),
                     pa.array(out["block_seq"], type=pa.int32()),
                     pa.array(out["writer_uid"], type=pa.int64()),
                     pa.array(out["col"], type=pa.string()),
                     pa.array(out["status"], type=pa.string()),
                     pa.array(out["n_blocks"], type=pa.int64())],
                    names=list(out.keys()))

            try:
                names = pq.read_schema(path).names
                has_crc = "payload_crc" in names
                want = ["part_id", "block_seq", "writer_uid", "col",
                        "header", "payload"]
                if has_crc:
                    want.append("payload_crc")
                t = pq.read_table(path, columns=want,
                                  use_threads=False)
            except (FileNotFoundError, OSError):
                emit("missing_file", 0)
                yield typed_batch()
                continue
            except pa.ArrowInvalid:
                # file exists but is not readable parquet (truncated
                # upload, bad magic): container-level corruption,
                # reported distinctly from block-level bad_crc
                emit("unreadable_file", 0)
                yield typed_batch()
                continue
            n_ok = n_uncov = 0
            for tb in t.to_batches():
                headers = tb.column("header")
                payloads = tb.column("payload")
                crcs = tb.column("payload_crc") if has_crc else None
                for i in range(tb.num_rows):
                    if crcs is None or not crcs[i].is_valid:
                        n_uncov += 1
                        continue
                    got = zlib.crc32(payloads[i].as_buffer(),
                                     zlib.crc32(headers[i].as_py()))
                    if got == crcs[i].as_py():
                        n_ok += 1
                    else:
                        emit("bad_crc", 1,
                             part=tb.column("part_id")[i].as_py(),
                             seq=tb.column("block_seq")[i].as_py(),
                             uid=tb.column("writer_uid")[i].as_py(),
                             col=tb.column("col")[i].as_py())
            if n_ok:
                emit("ok", n_ok)
            if n_uncov:
                emit("no_crc", n_uncov)
            yield typed_batch()

    from .encode import bin_files, map_bins

    bins = bin_files(snap, files, spark.sparkContext.defaultParallelism)
    return map_bins(spark, bins, _scan, FSCK_SCHEMA_DDL)


def fsck_summary(report: DataFrame) -> dict:
    """Collapse an ``fsck`` report to the operator-facing counters (the
    report itself is the per-block detail). Healthy table =>
    ``bad_crc == 0 and missing_files == 0``."""
    rows = (report.groupBy("status")
            .agg(F.sum("n_blocks").alias("blocks"),
                 F.countDistinct("file").alias("files"))
            .collect())
    by = {r["status"]: r for r in rows}

    def blocks(s):
        return int(by[s]["blocks"]) if s in by else 0

    def files(s):
        return int(by[s]["files"]) if s in by else 0

    return {
        "blocks_ok": blocks("ok"),
        "blocks_bad_crc": blocks("bad_crc"),
        "blocks_no_crc": blocks("no_crc"),
        "missing_files": files("missing_file"),
        "unreadable_files": files("unreadable_file"),
        "healthy": (blocks("bad_crc") == 0 and "missing_file" not in by
                    and "unreadable_file" not in by),
    }


def _expand_coverage(cov) -> set[int]:
    """Inverse of compact_coverage: exact part set from either form."""
    if isinstance(cov, dict):
        out: set[int] = set()
        for lo, hi in cov.get("ranges", []):
            out.update(range(int(lo), int(hi) + 1))
        return out
    return {int(p) for p in cov}


@retrying_rewrite
def repair_table(spark: SparkSession, tbl: ManifestTable,
                 input_df: DataFrame,
                 report: DataFrame | None = None,
                 verify_fingerprint: bool = True,
                 run_index: int = -1,
                 dry_run: bool = False) -> dict:
    """Lineage-driven self-healing: take an ``fsck`` damage report, drop
    every affected file, re-encode EXACTLY the parts those files covered
    from the original input, and commit the healed snapshot atomically.

    Part ids are content-derived (``with_part_id``: pmod(xxhash64(key)))
    — the same input rows land in the same parts on any cluster size —
    so "which rows were in the lost file" is answerable from the
    manifest's per-file part coverage without any record of physical row
    placement. The rewrite unit is the PART, not the file: dropping a
    damaged file removes its parts' rows wherever they sit, so every
    OTHER file holding any of those parts must be dropped and re-encoded
    too (the cascade below runs to a fixed point over manifest coverage,
    driver-side, zero I/O).

    Layout determines the blast radius, not correctness:

    - part-aligned layout (``shuffle=True``): a file covers exactly its
      own parts — the cascade stops immediately and one damaged file
      costs ~1/n_parts of an encode pass. This is the layout to choose
      when repairability matters (same trade as Iceberg
      rewrite_data_files granularity).
    - banded 'local' layout: every file spans the full part range, so
      any damage cascades to a full re-encode (returned as
      ``full_rebuild=True``). Still correct, just honest about cost.

    Guards: the committed run's partitioning params are adopted from the
    manifest (never guessed), and ``verify_fingerprint=True`` refuses to
    repair from input whose content fingerprint differs from what the
    damaged run actually encoded — repairing from drifted input would
    silently replace data. MULTI-RUN LIMITATION: repair re-encodes from
    ONE input_df, so a table with appended/upserted/purged runs (their
    records carry fingerprint=None) is refused under the default guard —
    rows later runs contributed to a damaged part would otherwise be
    silently dropped. Pass ``verify_fingerprint=False`` only with an
    input_df that is the exact union of every committed row. Files the manifest has NO coverage for are
    scanned for their exact parts when readable; a damaged file that is
    BOTH unreadable and uncovered forces ``full_rebuild``.

    ``dry_run=True`` returns the plan (files to drop, parts to
    re-encode) without writing anything.

    The healing commit is guarded on the head's ``committed_at``: a
    ``delete_rows`` landing mid-repair must not be erased by the
    property overwrite, so on a conflict the repair re-reads the head
    and runs again (:func:`table.retrying_rewrite`).
    """
    from .encode import PART_COL, with_part_id

    snap = tbl.current()
    if snap is None or not snap.files:
        raise FileNotFoundError(f"repair: table {tbl.dir} has no snapshot")
    lin = snap.lineage(run_index)
    if lin is None:
        raise ValueError("repair: table has no encode run lineage")
    runs = snap.properties["runs"]

    if report is None:
        report = fsck(spark, tbl)
    dmg = report.filter(
        "status in ('bad_crc', 'missing_file', 'unreadable_file')") \
        .select("file", "status").distinct().collect()
    damaged_names = {r["file"] for r in dmg}
    unreadable_names = {r["file"] for r in dmg
                        if r["status"] in ("missing_file",
                                           "unreadable_file")}
    if not damaged_names:
        return {"healthy": True, "dropped_files": [], "repaired_parts": [],
                "full_rebuild": False}

    by_name = {os.path.basename(f): f for f in snap.files}
    coverage: dict[str, object] = {}
    for r in runs:
        coverage.update(r.get("file_parts", {}))
    coverage.update(snap.properties.get("file_parts_extra", {}))

    file_parts: dict[str, set[int]] = {
        n: _expand_coverage(coverage[n]) for n in by_name if n in coverage}
    uncovered = [n for n in by_name if n not in coverage]
    full_rebuild = False
    if any(n in unreadable_names for n in uncovered):
        # a gone/unreadable file with no manifest coverage: its parts
        # are unknowable -> the only safe repair is everything
        full_rebuild = True
    elif uncovered:
        # exact parts for coverage-less files, folded in the driver from
        # their narrow block rows like a run record's coverage
        paths = [by_name[n] for n in uncovered]
        cov = _file_entries(paths, _file_block_stats(paths)[0], set())[0]
        file_parts.update((n, _expand_coverage(c)) for n, c in cov.items())

    if full_rebuild:
        drop = set(by_name)
        parts = set(range(lin["n_parts"]))
    else:
        drop = set(damaged_names)
        parts: set[int] = set()
        for n in drop:
            parts |= file_parts[n]
        changed = True
        while changed:  # cascade: any survivor sharing a part must go too
            changed = False
            for n, ps in file_parts.items():
                if n not in drop and ps & parts:
                    drop.add(n)
                    parts |= ps
                    changed = True
        if len(drop) == len(by_name):
            full_rebuild = True

    out = {"healthy": False, "full_rebuild": full_rebuild,
           "dropped_files": sorted(drop),
           "repaired_parts": sorted(parts),
           "surviving_files": len(by_name) - len(drop)}
    if dry_run:
        return out

    # the original input may predate a rename: speak the current names
    fold = fold_renames(snap.properties.get("column_renames", []))
    input_df = input_df.toDF(*(fold.get(c, c) for c in input_df.columns))
    cur_fp = input_fingerprint(input_df, lin["key"])
    if verify_fingerprint:
        # EVERY lineage run must fingerprint-match input_df, not just the
        # resolved one: append/upsert/purge runs record fingerprint=None
        # (no single input reproduces them), and on a multi-run table the
        # part-cascade rewrite would silently DROP the other runs' rows
        # that share a damaged part, replacing them with input_df rows
        # only. Same-fingerprint multi-run (a checkpoint resume) is fine.
        fps = {r.get("fingerprint") for r in runs}
        if fps != {cur_fp}:
            raise ValueError(
                f"repair input mismatch: lineage fingerprints "
                f"{sorted(str(f) for f in fps)} != input fingerprint "
                f"{cur_fp}. Either the input drifted, or the table has "
                f"appended/merged runs (recorded fingerprint=None) that "
                f"input_df cannot prove it contains — repairing would "
                f"silently replace their rows. Pass "
                f"verify_fingerprint=False ONLY if input_df is the exact "
                f"union of every row ever committed")

    new_files: list[str] = []
    rec = None
    if full_rebuild or parts:
        src = input_df
        if not full_rebuild:
            src = (with_part_id(input_df, lin["key"], lin["n_parts"],
                                lin["salt"], lin["salt_by"])
                   .filter(F.col(PART_COL).isin(*sorted(parts)))
                   .drop(PART_COL))
        new_files, rec = write_run(src, tbl, f"repair-{snap.snapshot_id}",
                                   cur_fp, lin)
    # else: every damaged file covered ZERO parts (hash-empty writes) —
    # dropping them from the snapshot IS the repair
    props = dict(snap.properties)
    props["runs"] = runs + ([rec] if rec else [])
    survivors = [f for f in snap.files
                 if os.path.basename(f) not in drop]
    healed = tbl.commit(survivors + new_files,
                        snap.schema_ddl or BLOCK_SCHEMA_DDL,
                        props, mode="overwrite",
                        expect_properties={
                            "committed_at":
                            snap.properties.get("committed_at")})
    out["new_files"] = len(new_files)
    out["snapshot_id"] = healed.snapshot_id
    return out


def point_lookup(spark: SparkSession, tbl: ManifestTable, key_value,
                 schema_ddl: str | None = None, key="url",
                 salt_by_value: str | None = None,
                 run_index: int = -1, verify: bool = True) -> DataFrame:
    """Key point-lookup against an encoded table, planned and decoded
    in the driver process — no Spark job for a lookup whose planned
    block groups fit one task's input. Returns a local DataFrame of the
    matching rows.

    1. The probe is converted once to the stored unit
       (``_stored_probe``: epoch micros for a timestamp, days for a
       date); every tier below compares in it.
    2. Part ids come from ``encode.xxhash64``, the Python twin of the
       encoder's hash chain (``with_part_id``), for every historical
       width of a widened key (strings, integers, doubles, timestamps
       and dates). A key type the twin does not cover keeps every part.
    3. ``lookup_files`` prunes FILES: part coverage, then
       :func:`plan_files` (key ranges, summary blooms, the bloom-index
       sidecar, each remaining file's key-block blooms).
    4. The narrow block rows of each kept file (read once per lookup,
       shared with the per-file bloom tier) plan its BLOCK GROUPS: part
       membership, key min/max stats and key blooms per group
       (``sort_by=[key]`` makes the stats disjoint, so a lookup decodes
       ~one block instead of the whole part).
    5. ``decode_file_batches`` decodes only the planned groups,
       CRC-verified unless ``verify=False``, and keeps the rows equal
       to the key; the kernel drops the live tombstones too
       (``deletes.apply_deletes``: a NULL key never matches).

    When the planned groups span several files and their encoded bytes
    exceed ``spark.sql.files.maxPartitionBytes`` — more than Spark
    would hand one task — step 5 runs as one ``decode_files_df`` job
    over the same plan, its files binned into tasks like a scan, and
    the key-filtered rows are collected. A one-file plan stays in the
    driver: the job would decode it in one task after paying the job's
    fixed cost.
    (Measured on 4 cores, full-table plans: the branches tie at ~50 MB
    over 8 files; at 136 MB over 16 files the job takes 2.0 s against
    3.9 s in the driver.)

    Salted tables (lineage records salt > 1): pass ``salt_by_value`` (the
    fine-grained value, e.g. the url when key is its domain) to resolve
    the exact shard; without it, all ``salt`` candidate parts are
    decoded (salt/n_parts of the table — still pruned)."""
    from pyspark.sql.types import StructType

    from .encode import key_cols, key_values

    snap = tbl.current()
    if schema_ddl is None:
        schema_ddl = tbl.row_schema(snap)
    # composite keys: key=["source","doc_id"], key_value=(v1, v2) — the
    # part hash chains the component values exactly like the encoder
    cols = key_cols(key)
    vals = key_values(key, key_value)
    schema = StructType.fromDDL(schema_ddl)
    for c, v in zip(cols, vals):
        _check_key_type(schema, c, v, "point_lookup")
    aliases_by_col = {c: _key_aliases(snap, c) for c in cols}
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    probe = [_stored_probe(v, types.get(c)) for c, v in zip(cols, vals)]
    parts = _lookup_parts(snap, snap.lineage(run_index), cols, probe,
                          types, aliases_by_col, salt_by_value)
    memo = _BLOCK_ROWS_MEMO.set({})
    try:
        files = lookup_files(spark, snap,
                             probe[0] if isinstance(key, str) else probe,
                             key, parts, aliases=aliases_by_col[cols[0]])
        return _serve_plan(spark, snap, schema, schema_ddl, files,
                           {c: {c} | aliases_by_col[c] for c in cols},
                           [(p, p) for p in probe], parts,
                           {c: (v, v) for c, v in zip(cols, vals)},
                           lazy=False, verify=verify)
    finally:
        _BLOCK_ROWS_MEMO.reset(memo)


def _serve_plan(spark: SparkSession, snap, schema, schema_ddl: str,
                files: list[str], names_by_col: dict[str, set[str]],
                bounds: list[tuple], parts: set[int] | None,
                match: dict, lazy: bool, verify: bool) -> DataFrame:
    """Plan the block groups of ``files`` (``_plan_block_groups`` over
    the stored-unit ``bounds``) and decode only them, keeping the rows
    inside ``match`` (column -> ``(lo, hi)`` in the probe's own values);
    the decode kernel drops live tombstones on either branch. The plan
    is decoded in the driver unless its planned bytes exceed
    ``spark.sql.files.maxPartitionBytes`` and it spans several files or
    is ``lazy``; then it runs as one ``decode_files_df`` job —
    collected, or with ``lazy`` returned unrun. ``verify`` checks each
    decoded block's payload CRC on both branches."""
    from .deletes import load_tombstone_keys, tombstone_specs
    from .encode import decode_context, decode_file_batches, decode_files_df

    planned = [_plan_block_groups(t, names_by_col, bounds, parts)
               for t in _read_block_rows(files)]
    plan = {f: g for f, (g, _) in zip(files, planned) if g}
    renames = fold_renames(snap.properties.get("column_renames", []))
    col_order, arrow_types, alias_of = decode_context(schema, renames)
    arrow_schema = pa.schema([(c, arrow_types[c]) for c in col_order])
    task_bytes = spark._jsparkSession.sessionState().conf() \
        .filesMaxPartitionBytes()
    planned_bytes = sum(b for _, b in planned)
    if (lazy or len(plan) > 1) and planned_bytes > task_bytes:
        df = decode_files_df(spark, list(plan), schema_ddl, verify=verify,
                             snap=snap, groups=plan, match=match)
        if lazy:
            return df
        rows = df.toArrow().cast(arrow_schema)
    else:
        loaded = load_tombstone_keys(tombstone_specs(snap))
        rows = pa.Table.from_batches(
            [b for f, g in plan.items()
             for b in decode_file_batches(f, col_order, arrow_types,
                                          alias_of, verify, groups=g,
                                          match=match, tombstones=loaded)],
            schema=arrow_schema)
    return spark.createDataFrame(rows, schema=schema)


def _stored_probe(value, typ: str | None):
    """``value`` in the unit the block stats, key ranges and blooms hold
    for a ``typ`` key column (``codecs.base.int_view``): PySpark's own
    conversion to epoch microseconds for a timestamp, to days for a
    date. Other values pass through."""
    from datetime import date, datetime

    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    conv = {"timestamp": (datetime, TimestampType),
            "timestamp_ntz": (datetime, TimestampNTZType),
            "date": (date, DateType)}.get(typ)
    if conv and isinstance(value, conv[0]):
        return conv[1]().toInternal(value)
    return value


def _lookup_parts(snap, lin: dict, cols: list[str], vals: list,
                  types: dict[str, str], aliases_by_col: dict,
                  salt_by_value) -> set[int]:
    """The parts a key value (``vals``, in the stored unit) may live in
    under the lineage ``lin`` (``Snapshot.lineage``), from the Python
    xxhash64 twin.
    A WIDENED key column (ManifestTable.widen_column) is hashed at every
    historical width — old generations' parts were derived from the
    narrow type, and xxhash64 hashes int32 and int64 differently.
    Salted runs add the shard: the exact one from ``salt_by_value``,
    else every shard. A key type the twin does not cover keeps every
    part (the finer tiers still apply)."""
    from itertools import product

    from .encode import part_id_of, xxhash64

    n_parts, salt = lin["n_parts"], lin["salt"]
    widenings = snap.properties.get("column_widenings", [])
    type_variants = []
    for c in cols:
        names_c = {c} | aliases_by_col[c]
        chain = [types.get(c)] + [e["from"] for e in widenings
                                  if e["col"] in names_c]
        type_variants.append(list(dict.fromkeys(chain)))
    shards: list = [None]
    try:
        if salt > 1 and salt_by_value is not None:
            t = types.get(lin["salt_by"])
            shards = [xxhash64([_stored_probe(salt_by_value, t)], [t])
                      % salt]
        elif salt > 1:
            shards = list(range(salt))
        # a value outside a historical narrow type's range cannot exist
        # in that generation — skip the variant
        return {part_id_of(vals, list(combo), n_parts, shard)
                for combo in product(*type_variants)
                if all(_fits(v, t) for v, t in zip(vals, combo))
                for shard in shards}
    except TypeError:
        return set(range(n_parts))


_INT_CAPS = {"tinyint": 2**7, "smallint": 2**15, "int": 2**31}


def _fits(v, t: str) -> bool:
    cap = _INT_CAPS.get(t)
    return cap is None or not isinstance(v, int) or -cap <= v < cap


def range_lookup(spark: SparkSession, tbl: ManifestTable,
                 lower, upper, schema_ddl: str | None = None,
                 key: str = "url",
                 snapshot_id: int | None = None,
                 verify: bool = True) -> DataFrame:
    """Key-RANGE query against an encoded table (``lower <= key <=
    upper``; None leaves a side open) AS OF ``snapshot_id`` (default
    the current snapshot), served by the point lookup's pipeline with
    the interval in place of the value. :func:`plan_files` keeps the
    files whose manifest key range overlaps it (zero I/O; part pruning
    does not apply, a key range spans arbitrary parts), the block groups whose
    min/max stats overlap it are planned from the kept files' narrow
    block rows, and only those are decoded, with the residual filter
    and live tombstones applied. ``key`` is ONE column: on a
    composite-keyed table, any component (ranges are recorded per
    component).

    A plan whose encoded bytes fit ``spark.sql.files.maxPartitionBytes``
    is decoded in the driver and returned as a local DataFrame, with no
    Spark job. A bigger one, even within one file, returns the lazy
    ``decode_files_df`` frame over the same plan for the caller's action
    to run: a range's decoded rows can be many times its encoded bytes.
    Both branches drop live tombstones in the decode kernel and, unless
    ``verify=False``, check each block's payload CRC."""
    from pyspark.sql.types import StructType

    snap = (tbl.current() if snapshot_id is None
            else tbl.snapshot(snapshot_id))
    if schema_ddl is None:
        schema_ddl = tbl.row_schema(snap)
    schema = StructType.fromDDL(schema_ddl)
    for bound in (lower, upper):
        if bound is not None:
            _check_key_type(schema, key, bound, "range_lookup")
    if snap is None or not snap.files:
        raise FileNotFoundError(f"table {tbl.dir} has no committed snapshot")
    typ = next((f.dataType.simpleString() for f in schema.fields
                if f.name == key), None)
    names = {key} | _key_aliases(snap, key)
    bounds = (_stored_probe(lower, typ), _stored_probe(upper, typ))
    files = plan_files(snap, snap.files, names, tiers=1, interval=bounds)
    return _serve_plan(spark, snap, schema, schema_ddl, files,
                       {key: names}, [bounds], None, {key: (lower, upper)},
                       lazy=True, verify=verify)


def compact_coverage(parts: list[int]) -> "list[int] | dict":
    """Coverage encoding for one file's part set: exact sorted list, or
    ``{"ranges": [[lo, hi], ...]}`` when collapsing consecutive runs is
    smaller (banded files cover contiguous runs -> one pair instead of
    n_parts ints). Range form may only OVER-approximate on the gaps it
    doesn't have — consumers use it for file pruning, where extra kept
    files are safe and skipped real ones are not possible."""
    if len(parts) < 8:
        return parts
    ranges = []
    lo = prev = parts[0]
    for p in parts[1:]:
        if p == prev + 1:
            prev = p
            continue
        ranges.append([lo, prev])
        lo = prev = p
    ranges.append([lo, prev])
    return {"ranges": ranges} if 2 * len(ranges) < len(parts) else parts


def coverage_overlaps(cov, part_ids: set[int]) -> bool:
    """Does a file's recorded coverage (exact list OR range form)
    intersect the wanted parts?"""
    if isinstance(cov, dict):
        return any(lo <= p <= hi
                   for lo, hi in cov.get("ranges", ()) for p in part_ids)
    return not part_ids.isdisjoint(cov)


def prune_files_by_part(files: list[str], part_ids: set[int],
                        max_workers: int = 16,
                        coverage: dict[str, list[int]] | None = None,
                        ) -> list[str]:
    """File pruning for part-targeted reads, two tiers:

    1. ``coverage`` (basename -> exact sorted part_id list, recorded in
       the manifest at commit time from the same one-scan stats
       aggregate): ZERO I/O — a point lookup on a 10k-file table decides
       from the manifest alone which handful of files to open.
    2. Footer-stats fallback for files without manifest coverage (tables
       written before the coverage existed, or rewritten by a compactor):
       parallel metadata-only reads of the part_id row-group min/max.
       Blocks are sorted by part_id within each file, so ranges are tight.
       Mirrors the reference's stats-based row-group dropping one level
       up, at the file manifest (ParquetPredicateBuilder.scala:96-119)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    kept_manifest: list[str] = []
    need_footer: list[str] = []
    for f in files:
        cov = (coverage or {}).get(os.path.basename(f))
        if cov is None:
            need_footer.append(f)
        elif coverage_overlaps(cov, part_ids):
            kept_manifest.append(f)
    files = need_footer
    if not files:
        return kept_manifest

    def keep(path: str) -> bool:
        meta = pq.ParquetFile(path).metadata
        idx = next((i for i in range(meta.num_columns)
                    if meta.schema.column(i).name == "part_id"), None)
        if idx is None:
            return True  # not a blocks file: cannot prune, keep
        # banded blocks (no-exchange 'local' layout) span [part_id,
        # part_hi]; the upper bound must come from part_hi stats or the
        # range check would miss parts above the anchor
        idx_hi = next((i for i in range(meta.num_columns)
                       if meta.schema.column(i).name == "part_hi"), idx)
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            st_hi = meta.row_group(rg).column(idx_hi).statistics
            if (st is None or not st.has_min_max
                    or st_hi is None or not st_hi.has_min_max):
                return True  # no stats: conservatively keep
            if any(st.min <= p <= st_hi.max for p in part_ids):
                return True
        return False

    with ThreadPoolExecutor(max_workers=min(max_workers,
                                            max(1, len(files)))) as ex:
        return kept_manifest + [f for f, k in zip(files,
                                                  ex.map(keep, files)) if k]


def input_fingerprint(df: DataFrame, key) -> str:
    """Order-independent content fingerprint: sum + xor-ish of key hashes
    (composite keys chain their components into one xxhash64)."""
    from .encode import key_cols

    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(k) for k in key_cols(key)]))
        .alias("s"),
    ).collect()[0]
    return f"{row['n']}:{row['s']}"


def committed_part_ids(tbl: ManifestTable,
                       stage: str | None = None) -> set[int]:
    # resume reads the line it writes: a killed STAGED encode must skip
    # the parts already committed on its ref, not on main
    snap = tbl.head(stage)
    if snap is None:
        return set()
    done: set[int] = set()
    for run in snap.properties.get("runs", []):
        done.update(run["part_ids"])
    return done


def encode_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    tbl: ManifestTable,
    key=None,
    n_parts: int | None = None,
    salt: int | None = None,
    salt_by: str | None = None,
    run_id: str = "run",
    profile: str = "speed",
    codec_overrides: dict[str, str] | None = None,
    fail_after_commit_parts: int | None = None,
    verify_fingerprint: bool = True,
    shuffle: bool | str = "auto",
    sort_by: list[str] | None = None,
    key_bloom: bool = True,
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
    stage: str | None = None,
) -> dict:
    """Encode ``df`` into ``tbl``, skipping parts already committed.

    ``stage`` commits onto a named ref instead of main (write half of
    write-audit-publish: audit with fsck, then ``tbl.publish(stage)``).
    Resume and run lineage then read from the ref's head, so a killed
    staged encode resumes on its own line without touching main.

    Resume safety: committed part_ids are only meaningful under the
    partitioning params (n_parts/salt/salt_by/key) of the run that wrote
    them — anti-filtering them against part_ids computed under different
    params silently drops rows. On resume this adopts the committed run's
    params where the caller left them None, and raises on an explicit
    mismatch (``table.adopt_lineage``, the rule ``append_encode``
    follows too); a fresh table defaults to key ``url``, no salt and
    twice the default parallelism. ``verify_fingerprint`` additionally
    checks that the input content matches what the committed run saw
    before skipping anything (an order-independent key-hash
    fingerprint, one narrow scan).

    ``fail_after_commit_parts`` artificially stops after committing only
    the first K parts — the hook the kill-and-resume test uses.
    Returns run metrics (also persisted in the manifest).
    """
    from .encode import PART_COL, with_part_id

    # shuffle='local' keeps resume lineage valid (content-derived part
    # assignment) without moving the corpus through shuffle storage;
    # shuffle=False (layout-derived parts) is rejected here because its
    # lineage breaks under any input-split change — exactly what a resume
    # on a different cluster size does
    if shuffle is False:
        raise ValueError("encode_with_checkpoint requires content-derived "
                         "part ids: use shuffle=True or shuffle='local'")
    lin = adopt_lineage(tbl.head(stage), "resume", key, n_parts, salt,
                        salt_by)
    lin["n_parts"] = (lin["n_parts"]
                      or spark.sparkContext.defaultParallelism * 2)
    fp = input_fingerprint(df, lin["key"])  # one narrow key-column scan
    if verify_fingerprint and lin["fingerprint"] not in (None, fp):
        raise ValueError(
            f"resume input mismatch: fingerprint {fp} != committed "
            f"{lin['fingerprint']}; skipping committed parts over "
            f"different input would lose rows")
    done = committed_part_ids(tbl, stage)

    tagged = with_part_id(df, lin["key"], lin["n_parts"], lin["salt"],
                          lin["salt_by"])
    if done:
        tagged = tagged.filter(~F.col(PART_COL).isin(*done))
    if fail_after_commit_parts is not None:
        remaining = sorted(
            r[0] for r in tagged.select(PART_COL).distinct().collect())
        keep = set(remaining[:fail_after_commit_parts])
        tagged = tagged.filter(F.col(PART_COL).isin(*keep))

    files, run = write_run(
        tagged.drop(PART_COL), tbl, run_id, fp, lin, profile=profile,
        codec_overrides=codec_overrides, shuffle=shuffle, sort_by=sort_by,
        key_bloom=key_bloom, bloom_cols=bloom_cols, bloom_bits=bloom_bits)
    if run is None:
        return {"run_id": run_id, "part_ids": [], "skipped_parts": sorted(done),
                "n_rows": 0, "raw_bytes": 0, "enc_bytes": 0}
    commit_run(tbl, files, run, df, stage=stage)
    return run


def append_encode(spark: SparkSession, df: DataFrame, tbl: ManifestTable,
                  run_id: str = "append", key=None,
                  n_parts: int | None = None, profile: str = "speed",
                  shuffle: bool | str = "auto",
                  sort_by: list[str] | None = None,
                  stage: str | None = None, **encode_kw) -> dict:
    """Append NEW rows to an existing encoded table with full run
    lineage — the sibling of :func:`encode_with_checkpoint` for data
    that was NOT part of the original run (daily crawl increments).
    The checkpoint API is a same-input resume surface (its fingerprint
    guard rejects different data by design); this one adopts the
    table's partitioning params from the head's last run (raising on an
    explicit mismatch, the rule resume follows) and commits ONE run
    record, so ``changes_between`` classifies the files as new data (not
    unclassified) and the manifest prune tiers cover them. ``stage``
    lands the append on a named ref for write-audit-publish."""
    snap = tbl.head(stage)
    if snap is None:
        raise FileNotFoundError(
            f"append_encode: table {tbl.dir} has no snapshot — bootstrap "
            f"with encode_with_checkpoint")
    lin = adopt_lineage(snap, "append_encode", key, n_parts)
    lin["n_parts"] = (lin["n_parts"]
                      or spark.sparkContext.defaultParallelism * 2)
    files, run = write_run(df, tbl, run_id, None, lin, profile=profile,
                           shuffle=shuffle, sort_by=sort_by, **encode_kw)
    if run is None:
        return {"run_id": run_id, "part_ids": [], "n_rows": 0,
                "raw_bytes": 0, "enc_bytes": 0}
    commit_run(tbl, files, run, df, stage=stage)
    return run


def commit_run(tbl: ManifestTable, files: list[str], run: dict | None,
               df: DataFrame, properties: dict | None = None,
               expect_properties: dict | None = None,
               stage: str | None = None) -> None:
    """Append ``files``, their ``run`` record and ``df``'s row schema
    (plus ``properties``) to the head of ``stage`` in one commit. The
    runs list is extended under the commit lock, so a rival committer's
    record is never erased and no retry is needed."""
    from .table import ddl_of

    props = {**(properties or {}), "row_schema_ddl": ddl_of(df)}
    tbl.commit(files, BLOCK_SCHEMA_DDL,
               lambda head: {**props, "runs":
                             (head.properties.get("runs", []) if head
                              else []) + ([run] if run else [])},
               mode="append", expect_properties=expect_properties,
               stage=stage)


def write_run(df: DataFrame, tbl: ManifestTable, run_id: str,
              fingerprint: str | None, lineage: dict,
              **encode_kw) -> tuple[list[str], dict | None]:
    """Encode ``df`` under ``lineage`` (key, n_parts, salt, salt_by, as
    ``Snapshot.lineage`` returns it; ``encode_kw`` passes through to
    ``encode_df``), write the blocks into a fresh data directory of
    ``tbl`` — the one Spark job — and build their run record from the
    written files in the driver: ``(files, run)``, ``run`` None for an
    empty write. Nothing is committed."""
    key, n_parts = lineage["key"], lineage["n_parts"]
    salt, salt_by = lineage["salt"], lineage["salt_by"]
    blocks = encode_df(df, key, n_parts, salt, salt_by, **encode_kw)
    job_dir = tbl.new_data_path()
    blocks.write.mode("overwrite").parquet(job_dir)
    files = ManifestTable.list_written_files(job_dir)
    return files, _run_record(files, run_id, fingerprint, n_parts, salt,
                              salt_by, key,
                              bloom_bits=blocks._eel_bloom_bits)


def _fold_summaries(rows) -> dict:
    """Sentinel rows -> {col: {basename: {"b64": words, "n": n}}}."""
    import base64

    import numpy as _np

    from .encode import SUMMARY_COL_PREFIX

    out: dict[str, dict] = {}
    for r in rows:
        col = r["col"][len(SUMMARY_COL_PREFIX):]
        words = _np.array(r["key_bloom"], dtype=_np.int64)
        out.setdefault(col, {})[os.path.basename(r["file"])] = {
            "b64": base64.b64encode(words.tobytes()).decode("ascii"),
            "n": int(r["n_values"])}
    return out


#: the block-row columns a run record folds: part membership, codec,
#: value and byte counts, key stats, and the summary sentinels' words
#: (never ``header`` or ``payload``)
_RUN_RECORD_COLS = ("part_id", "parts", "col", "codec", "n_values",
                    "raw_bytes", "enc_bytes", "min_s", "max_s", "min_i",
                    "max_i", "key_bloom")


def _file_block_stats(files: list[str]) -> tuple[list, list]:
    """(stats, summary_rows) of written block files, from one narrow
    pyarrow read of each: one ``_merge_stats`` row per (file, parts,
    col, codec) group, and the tier-0 sentinel rows apart (their
    synthetic col names must stay out of the stats). A pre-banding
    block (no ``parts``, or NULL under a merged schema) is a member of
    ``[part_id]`` alone; a generation without ``key_bloom`` has no
    sentinels."""
    import pyarrow.compute as pc

    from .encode import SUMMARY_COL_PREFIX

    groups: dict[tuple, dict] = {}
    summary_rows: list[dict] = []
    for f, t in zip(files, _read_block_rows(files, _RUN_RECORD_COLS)):
        sentinel = pc.starts_with(t.column("col"), SUMMARY_COL_PREFIX)
        if "key_bloom" in t.column_names:
            summary_rows += [
                {"file": f, **r} for r in t.filter(sentinel).select(
                    ["col", "key_bloom", "n_values"]).to_pylist()]
        t = t.filter(pc.invert(sentinel))
        cols = t.select([c for c in t.column_names
                         if c != "key_bloom"]).to_pydict()
        none = [None] * t.num_rows
        for pid, parts, col, codec, nv, raw, enc, mns, mxs, mni, mxi in zip(
                *(cols.get(c, none) for c in _RUN_RECORD_COLS[:-1])):
            parts = [pid] if parts is None else parts
            _merge_stats(groups.setdefault(
                (f, tuple(parts), col, codec),
                {"file": f, "parts": parts, "col": col, "codec": codec,
                 **_NO_STATS}),
                {"nv": nv, "raw": raw, "enc": enc, "cnt": 1,
                 "cns": int(mns is not None), "cni": int(mni is not None),
                 "mns": mns, "mxs": mxs, "mni": mni, "mxi": mxi})
    return list(groups.values()), summary_rows


#: an empty ``_merge_stats`` accumulator
_NO_STATS = {"nv": 0, "raw": 0, "enc": 0, "cnt": 0, "cns": 0, "cni": 0,
             "mns": None, "mxs": None, "mni": None, "mxi": None}


def _merge_stats(acc: dict, r) -> None:
    """Fold one row's sums, counts and key min/max into ``acc`` as
    Spark's sum/count/min/max aggregates do: NULL stats are skipped."""
    for k in ("nv", "raw", "enc", "cnt", "cns", "cni"):
        acc[k] += int(r[k])
    for k, pick in (("mns", min), ("mxs", max), ("mni", min),
                    ("mxi", max)):
        if r[k] is not None:
            acc[k] = r[k] if acc[k] is None else pick(acc[k], r[k])


def _file_entries(files: list[str], stats: list,
                  key_names: set[str]) -> tuple[dict, dict, dict]:
    """The per-file manifest entries of ``files``, folded from their
    ``_file_block_stats`` groups — what a run record and a rewrite
    record for the files they wrote, and what repair reads for files
    the manifest does not cover:

    - part coverage per basename (``compact_coverage``); a file with no
      block row (a hash-empty write) covers ``[]``, so pruning skips it
      without a footer read
    - ``[n_rows, raw_bytes, enc_bytes]`` per basename, rows counted on
      the first column (every column of a block group has its rows)
    - ``{col: {basename: {"s"|"i": [lo, hi]}}}`` for each column of
      ``key_names``: the file's key range, recorded only when every key
      block of the file carries stats (strings past STATS_STR_LEN carry
      none, and a range from the other blocks would exclude their keys);
      a missing entry means keep."""
    first_col = min((r["col"] for r in stats), default=None)
    part_sets: dict[str, set[int]] = {}
    file_stats: dict[str, list[int]] = {}
    key_acc: dict[tuple, dict] = {}
    for r in stats:
        base = os.path.basename(r["file"])
        fs = file_stats.setdefault(base, [0, 0, 0])
        if r["col"] == first_col:
            fs[0] += int(r["nv"])
        fs[1] += int(r["raw"])
        fs[2] += int(r["enc"])
        part_sets.setdefault(base, set()).update(int(p) for p in r["parts"])
        if r["col"] in key_names:
            _merge_stats(key_acc.setdefault((r["col"], base),
                                            dict(_NO_STATS)), r)
    ranges: dict[str, dict[str, dict]] = {}
    for (col, base), a in key_acc.items():
        if a["cnt"] and a["cns"] == a["cnt"] and a["mns"] is not None:
            ranges.setdefault(col, {})[base] = {"s": [a["mns"], a["mxs"]]}
        elif a["cnt"] and a["cni"] == a["cnt"] and a["mni"] is not None:
            ranges.setdefault(col, {})[base] = {
                "i": [int(a["mni"]), int(a["mxi"])]}
    bases = [os.path.basename(f) for f in files]
    return ({b: compact_coverage(sorted(part_sets.get(b, ())))
             for b in bases},
            {b: file_stats.get(b, [0, 0, 0]) for b in bases},
            ranges)


def _run_record(files: list[str], run_id: str,
                fingerprint: str | None, n_parts: int, salt: int,
                salt_by: str | None, key,
                bloom_bits: int | None = None) -> dict | None:
    """The lineage record of one write, folded in the driver from the
    (file, parts, col, codec) groups of the files it wrote
    (``_file_block_stats``, no Spark job; n_files x n_cols x codecs
    rows): part ids, rows, byte totals and codec mix, plus the per-file
    entries (``_file_entries``: part coverage, key ranges, stats) and
    summary blooms that let lookups prune files with ZERO I/O. Grouping
    on the EXACT parts array keeps part ids and coverage exact in every
    layout. None for an empty write."""
    from .encode import effective_bloom_bits, key_cols as _kc

    stats, summary_rows = _file_block_stats(files)
    if not stats:
        return None
    kset = set(_kc(key))
    codec_mix: dict[str, int] = {}
    col_bytes: dict[str, list[int]] = {}
    for r in stats:
        k = f"{r['col']}:{r['codec']}"
        codec_mix[k] = codec_mix.get(k, 0) + int(r["cnt"])
        cb = col_bytes.setdefault(r["col"], [0, 0])
        cb[0] += int(r["raw"])
        cb[1] += int(r["enc"])
    # Per-file KEY RANGE (min..max of the key column over the file's
    # blocks): the manifest-side lookup pruner for banded tables whose
    # input arrives CLUSTERED by the key — the no-exchange layout keeps
    # that clustering, so files cover disjoint key slices. Composite
    # keys record a range per COMPONENT (file_key_ranges_cols); the
    # single map carries the PRIMARY component for every existing
    # consumer. Part membership per file: part-ALIGNED files hold few
    # scattered parts -> exact sorted lists (a min/max range would match
    # almost every lookup once AQE coalesces parts into a file). BANDED
    # files hold long contiguous part runs -> the exact list is
    # O(n_parts) PER FILE, which at 800k files x 10k parts is a multi-GB
    # manifest; those collapse to the exact range form (run part_ids
    # below stays the exact union regardless).
    file_parts, file_stats, ranges_by_col = _file_entries(files, stats, kset)

    return {
        "run_id": run_id,
        "part_ids": sorted({int(p) for r in stats for p in r["parts"]}),
        "n_rows": sum(fs[0] for fs in file_stats.values()),
        "raw_bytes": sum(cb[0] for cb in col_bytes.values()),
        "enc_bytes": sum(cb[1] for cb in col_bytes.values()),
        "codec_mix": codec_mix,
        # col -> [raw_bytes, enc_bytes]: per-column ratio accounting (the
        # signal that tells an operator WHICH column to re-profile/sort)
        "col_bytes": col_bytes,
        # basename -> sorted part_id list: manifest-side file pruning
        "file_parts": file_parts,
        # basename -> {"s"|"i": [lo, hi]} key range: manifest-side lookup
        # pruning for banded tables (absent entries = keep). For a
        # composite key this is the PRIMARY component; the other
        # components' ranges ride file_key_ranges_cols below.
        "file_key_ranges": ranges_by_col.get(_kc(key)[0], {}),
        **({"file_key_ranges_cols": ranges_by_col}
           if len(kset) > 1 else {}),
        # col -> basename -> {"b64": words, "n": values}: the tier-0
        # per-file summary blooms (driver-side consult, zero I/O);
        # saturated files are simply absent (conservatively kept)
        **({"file_summary_blooms": _fold_summaries(summary_rows)}
           if summary_rows else {}),
        # basename -> [n_rows, raw_bytes, enc_bytes]: lets table stats be
        # summed over the LIVE file set after rewrites (purge/compact)
        # instead of over lineage totals that still count replaced files
        "file_stats": file_stats,
        "fingerprint": fingerprint,
        "n_parts": n_parts,
        "salt": salt,
        "salt_by": salt_by,
        "key": key,
        # the bits/key this run's blooms were actually sized with (the
        # explicit knob, else the deterministic auto-derivation from
        # n_parts) — analyze-table compares it against the LIVE file
        # count to flag grown tables whose blooms are now under-sized
        "bloom_bits": effective_bloom_bits(n_parts, bloom_bits),
    }


@retrying_rewrite
def realign_table(spark: SparkSession, tbl: ManifestTable, schema_ddl: str,
                  run_id: str = "realign", n_parts: int | None = None,
                  profile: str = "speed",
                  codec_overrides: dict[str, str] | None = None,
                  sort_by: list | None = None,
                  verify_fingerprint: bool = True) -> dict:
    """Layout migration: decode the CURRENT snapshot and re-encode it
    part-ALIGNED (``shuffle=True``) in one overwrite commit — the
    "write fast banded now, realign for point-lookup-heavy serving
    later" path. Banded blocks span parts, so compaction alone can
    never restore one-part-per-file locality; this is the honest way.

    Partitioning params (key/salt, and n_parts unless given) are adopted
    from the last committed run (``Snapshot.lineage``) so part ids — and
    therefore resume lineage of future appends — stay IDENTICAL; the
    content fingerprint is recomputed over the decoded rows and must
    match the committed one (decode is lossless, so a mismatch means the
    table is not what its lineage claims — abort rather than republish
    it). Time travel to the pre-realign snapshot keeps working; old
    files are reclaimed by ``expire_snapshots``. A rival commit landing
    mid-realign makes it run again from the new head
    (:func:`table.retrying_rewrite`)."""
    from .table import ddl_of

    snap = tbl.current()
    if snap is None:
        raise ValueError("realign_table: no committed snapshot")
    lin = snap.lineage()
    if lin is None:
        raise ValueError("realign_table: table has no run lineage")
    lin["n_parts"] = n_parts or lin["n_parts"]

    df = tbl.read_decoded(spark, schema_ddl)
    # the fingerprint check is one EXTRA decode pass over the table (the
    # frame is recomputed per action) — sound default, skippable at
    # 100 TB where the rewrite pass itself is already the budget
    fp = lin["fingerprint"]
    if verify_fingerprint:
        fp = input_fingerprint(df, lin["key"])
        if lin["fingerprint"] is not None and fp != lin["fingerprint"]:
            raise ValueError(
                f"realign_table: decoded fingerprint {fp} != committed "
                f"{lin['fingerprint']} — refusing to republish")
    files, run = write_run(df, tbl, run_id, fp, lin, profile=profile,
                           codec_overrides=codec_overrides, shuffle=True,
                           sort_by=sort_by)
    if run is None:
        raise ValueError("realign_table: empty table")
    # carry durable properties forward (r8 fix — the bare {"runs": [run]}
    # commit silently dropped them): row_schema_ddl (stored-schema reads),
    # cdc.* cursors (a realigned FOLLOWER SINK must not re-bootstrap and
    # duplicate its table), tombstones + renames (suppression of rows
    # that may re-enter via repair, and the fold that translates old
    # tombstone key names). Rewrite-scoped extras (file_*_extra,
    # bloom_index) are dropped — their basenames no longer exist; blocks
    # are re-encoded under CURRENT column names so reads need no mapping,
    # but the rename HISTORY stays for tombstone translation. Guarded on
    # committed_at like every other full-rewrite commit.
    props = {k: v for k, v in snap.properties.items()
             if k not in ("runs", "file_parts_extra", "file_stats_extra",
                          "file_key_ranges_extra", "bloom_index",
                          "committed_at")}
    props["runs"] = [run]
    props["row_schema_ddl"] = ddl_of(df)
    tbl.commit(files, BLOCK_SCHEMA_DDL, props, mode="overwrite",
               expect_properties={
                   "committed_at": snap.properties.get("committed_at")})
    return run
