"""The benchmark's two closed-loop workloads.

Both run the same op types, one at a time from the driver thread, so
every end-to-end metric is measured on both; they differ in the shape of
the write and of the table the reads hit:

- ``bulk_serve``: every cycle bulk-encodes the same cached, seeded
  webtext slice into a FRESH table (few big files), then serves a point
  lookup and a full scan from it. One takedown (``delete_rows``) follows
  the timed cycles.
- ``append_scan``: one table grows; every cycle appends a small increment
  of new rows (many small files), looks one of them up (read-your-writes)
  and scans the table. One takedown precedes the timed cycles, so every
  timed read applies a tombstone list.

Every op's result is checked against values generated in-process: the
webtext rows are a pure function of the row id (``corpus.gen_batch``).
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import timezone

import numpy as np

from harness import median

# rows per workload size; "tiny" is the smoke test's size
SIZES = {
    "bulk_serve": {"full": {"rows": 32_000}, "tiny": {"rows": 2_000}},
    "append_scan": {"full": {"rows": 4_000, "inc": 2_000},
                    "tiny": {"rows": 2_000, "inc": 200}},
}
SETUP_REPS = 3          # set-up is repeated and its median reported
# Untimed warm-up cycles. The first runs every op type (2-4x slower than
# later ones: JIT, Python worker spawn); the rest skip the scan and
# repeat the write and lookup, which keep settling. On the 4-core sandbox
# bulk writes fell ~35% and lookups ~20% over their first 5-6 calls and
# were flat after; append writes and every scan were flat after the
# first call.
WARMUP_CYCLES = {"bulk_serve": 3, "append_scan": 1}
# The timed op sequence is count-based: round(--seconds / CYCLE_S) cycles
# (CYCLE_S is about one settled cycle on the 4-core sandbox), so a faster
# or slower box runs the same ops and append_scan reads the same table
# sizes.
CYCLE_S = {"bulk_serve": 3.0, "append_scan": 4.0}
MAX_CYCLES = 12
ZIPF_A = 1.2


def row_hash():
    """One 64-bit hash over every column of a row, nulls distinguished."""
    from pyspark.sql import functions as F

    return F.xxhash64("url", "warc_ts", "html", "text", "lang",
                      F.isnull("text"), F.isnull("lang"))


def source_df(spark, lo: int, hi: int):
    """Webtext rows with ids [lo, hi), generated on the executors."""
    from eel_sdk_spark import corpus

    def gen(batches):
        for b in batches:
            yield corpus.gen_batch(np.asarray(b.column(0)))

    parts = spark.sparkContext.defaultParallelism
    return spark.range(lo, hi, numPartitions=parts).mapInArrow(
        gen, corpus.SCHEMA_DDL)


def corpus_rows(ids) -> list[dict]:
    """The rows the corpus defines for ``ids``, built in-process."""
    from eel_sdk_spark import corpus

    return corpus.gen_batch(np.asarray(ids, dtype=np.int64)).to_pylist()


def row_mismatch(got, want: dict) -> str | None:
    have = got.asDict()
    if have["html"] is not None:
        have["html"] = bytes(have["html"])
    if have["warc_ts"] is not None:  # the process runs with TZ=UTC
        have["warc_ts"] = have["warc_ts"].replace(tzinfo=timezone.utc)
    bad = [c for c in want if have.get(c) != want[c]]
    return f"columns {bad} differ for {want['url']}" if bad else None


def table_bytes(tbl) -> int:
    return sum(os.path.getsize(f) for f in tbl.current().files)


def table_raw_mb(tbl) -> float:
    return sum(r["raw_bytes"] for r in
               tbl.current().properties.get("runs", [])) / 1e6


class Workload:
    """Op bodies, checks and the set-up / warm-up / timed driver loop.
    A subclass defines ``setup_rep``, ``prepare``, ``cycle`` and
    ``finish``; ``self.table`` and ``self.live`` (urls that must read
    back) name the state the reads and checks run against."""

    name = ""

    def __init__(self, spark, rec, seed: int, size: str, work: str,
                 plant_fault: bool = False):
        self.spark = spark
        self.rec = rec
        self.seed = seed
        self.conf = SIZES[self.name][size]
        self.wh = os.path.join(work, "warehouse")
        shutil.rmtree(self.wh, ignore_errors=True)
        os.makedirs(self.wh)
        self.rng = np.random.default_rng(seed)
        # row ids start at a seeded offset: every seed writes other rows
        self.lo = int(self.rng.integers(0, 1 << 40))
        self.plant_fault = plant_fault
        self.hashes: dict[str, int] = {}
        self.gone: set[int] = set()  # ids taken down
        self.size_vs_ref = None

    # -- inputs and expected values -------------------------------------
    def hash_rows(self, df) -> None:
        """Expected per-row hashes of the source rows in ``df``."""
        for r in df.select("url", row_hash().alias("h")).collect():
            self.hashes[r.url] = r.h
        if self.plant_fault:  # a wrong expected value the checks must catch
            url = next(iter(self.hashes))
            self.hashes[url] ^= 1

    def reference_bytes(self, df) -> int:
        """Bytes the reference encoder writes for the same rows: parquet,
        snappy, dictionary on (BASELINE.md)."""
        path = os.path.join(self.wh, "_reference")
        (df.write.mode("overwrite")
         .option("compression", "snappy")
         .option("parquet.enable.dictionary", "true").parquet(path))
        size = sum(os.path.getsize(os.path.join(path, f))
                   for f in os.listdir(path) if f.endswith(".parquet"))
        shutil.rmtree(path)
        return size

    def probe(self, ids: np.ndarray) -> tuple:
        """(url, expected row) of a live key, zipf-skewed over a seeded
        permutation of ``ids`` (hot keys repeat). Timed probes are all
        hits: a miss is pruned to nothing and returns in about half the
        time, so mixing them in would make a few-sample median bimodal;
        a miss is probed by :meth:`probe_miss`."""
        order = self.rng.permutation(ids[~np.isin(ids, list(self.gone))])
        rank = min(int(self.rng.zipf(ZIPF_A)), len(order)) - 1
        row = corpus_rows(order[rank:rank + 1])[0]
        return row["url"], row

    def probe_miss(self) -> None:
        """After the timed cycles, one lookup of a url no workload writes;
        it must return nothing."""
        url = corpus_rows([self.rng.integers(1 << 50, 1 << 51)])[0]["url"]
        self.lookup(url, None, True, "miss")

    # -- ops --------------------------------------------------------------
    def lookup(self, url: str, want: dict | None, timed: bool,
               kind: str = "lookup") -> None:
        from eel_sdk_spark import checkpoint

        split = {}

        def run():
            t0 = time.perf_counter()
            df = checkpoint.point_lookup(self.spark, self.table, url)
            t1 = time.perf_counter()
            rows = df.collect()
            split["plan_ms"] = (t1 - t0) * 1e3
            split["exec_ms"] = (time.perf_counter() - t1) * 1e3
            return rows

        rows, _ = self.rec.op(kind, run,
                              lambda rows: point_mismatch(rows, url, want),
                              timed)
        if rows is not None and timed and kind == "lookup":
            self.rec.values["lookup_plan_ms"].append(split["plan_ms"])
            self.rec.values["lookup_exec_ms"].append(split["exec_ms"])

    def scan(self, timed: bool) -> None:
        """Full decode of the table, folded to (count, xor of row hashes)
        so the whole result is checked without collecting it."""
        from pyspark.sql import functions as F

        raw_mb = table_raw_mb(self.table)
        want = (len(self.live), 0)
        for u in self.live:
            want = (want[0], want[1] ^ self.hashes[u])

        def check(r):
            got = (r.n, r.x or 0)
            return None if got == want else (
                f"scan of {self.table.dir}: (rows, xor) {got} != {want}")

        out, dt = self.rec.op("scan", lambda: self.table.read_decoded(
            self.spark).agg(F.count("*").alias("n"),
                            F.bit_xor(row_hash()).alias("x")).collect()[0],
            check, timed)
        if out is not None and timed:
            self.rec.values["scan_mb"].append(raw_mb)
            self.rec.values["scan_s"].append(dt)

    def delete(self, ids: np.ndarray, timed: bool) -> None:
        """Takedown of live keys; later reads must no longer see them."""
        from eel_sdk_spark import deletes

        urls = [r["url"] for r in corpus_rows(ids) if r["url"] in self.live]
        if not urls:
            return
        out, _ = self.rec.op("delete", lambda: deletes.delete_rows(
            self.spark, self.table, urls),
            lambda r: None if r["deleted_keys"] == len(urls)
            else f"deleted {r['deleted_keys']} of {len(urls)} keys", timed)
        if out is not None:
            self.live -= set(urls)
            self.gone.update(int(i) for i in ids)

    def write(self, fn, n_rows: int, timed: bool) -> bool:
        res, dt = self.rec.op(
            "write", fn, lambda r: None if r["n_rows"] == n_rows
            else f"wrote {r['n_rows']} of {n_rows} rows", timed)
        if res is not None and timed:
            self.rec.values["encode_mb_s"].append(res["raw_bytes"] / 1e6 / dt)
        return res is not None

    def bit_identity(self) -> None:
        """Decode the table and compare a per-url hash over all columns
        with the hash of the source row."""
        got = {r.url: r.h for r in self.table.read_decoded(self.spark)
               .select("url", row_hash().alias("h")).collect()}
        want = {u: self.hashes[u] for u in self.live}
        err = None
        if got != want:
            wrong = sum(got.get(u) != h for u, h in want.items())
            extra = sum(u not in want for u in got)
            err = (f"{self.table.dir}: {wrong} rows missing or different, "
                   f"{extra} unexpected")
        self.rec.check(f"bit-identity {os.path.basename(self.table.dir)}",
                       err)

    # -- driver -------------------------------------------------------------
    def run(self, seconds: float) -> dict:
        """Set-up (repeated), warm-up, the timed cycles for ``seconds``,
        then the takedown and the final checks."""
        warm = WARMUP_CYCLES[self.name]
        self.cycles = min(MAX_CYCLES,
                          max(1, round(seconds / CYCLE_S[self.name])))
        setup = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.setup_rep(rep)
            setup.append(time.perf_counter() - t0)
        self.prepare()

        t0 = time.perf_counter()
        history = []
        for i in range(warm):
            seen = {k: len(v) for k, v in self.rec.warm_ms.items()}
            self.cycle(i, False, scan=i == 0)
            history.append({k: median(v[seen.get(k, 0):])
                            for k, v in self.rec.warm_ms.items()
                            if len(v) > seen.get(k, 0)})
        warmup_s = time.perf_counter() - t0

        self.begin_timed()
        t0 = time.perf_counter()
        for i in range(self.cycles):
            self.cycle(warm + i, True)
        measured_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.takedown()
        self.probe_miss()
        self.finish()
        return {"setup_s": median(setup), "setup_reps_s": setup,
                "warmup_s": warmup_s, "warmup_ms": history,
                "cycles": self.cycles, "measured_s": measured_s,
                "checks_s": time.perf_counter() - t0}

    def begin_timed(self) -> None:
        pass

    def takedown(self) -> None:
        pass


def point_mismatch(rows, url: str, want: dict | None) -> str | None:
    if want is None:
        return None if not rows else f"{url}: {len(rows)} rows, want 0"
    if len(rows) != 1:
        return f"{url}: {len(rows)} rows, want 1"
    return row_mismatch(rows[0], want)


class BulkServe(Workload):
    name = "bulk_serve"

    def setup_rep(self, rep: int) -> None:
        """Load the seeded slice into the executors' cache."""
        n = self.conf["rows"]
        if rep:
            self.df.unpersist(blocking=True)
        self.df = source_df(self.spark, self.lo, self.lo + n).cache()
        self.df.count()

    def prepare(self) -> None:
        n = self.conf["rows"]
        self.ids = np.arange(self.lo, self.lo + n, dtype=np.int64)
        self.hash_rows(self.df)
        self.table = None

    def cycle(self, i: int, timed: bool, scan: bool = True) -> None:
        """Write, lookup, scan."""
        from eel_sdk_spark import checkpoint
        from eel_sdk_spark.table import ManifestTable

        if self.table is not None:  # keep one table on disk
            shutil.rmtree(self.table.dir, ignore_errors=True)
        name = f"bulk_{i}"
        self.table = tbl = ManifestTable(self.wh, name)
        self.live = set(self.hashes)
        if not self.write(lambda: checkpoint.encode_with_checkpoint(
                self.spark, self.df, tbl, run_id=name),
                len(self.ids), timed):
            return
        self.lookup(*self.probe(self.ids), timed)
        if scan:
            self.scan(timed)

    def takedown(self) -> None:
        """One timed delete on the last table; the bit-identity check
        then must not see the deleted rows."""
        self.delete(self.rng.choice(self.ids, 2, replace=False), True)

    def finish(self) -> None:
        if self.table is not None:
            self.bit_identity()
            self.size_vs_ref = table_bytes(self.table) / self.reference_bytes(
                self.df)
        self.df.unpersist()


class AppendScan(Workload):
    name = "append_scan"

    def setup_rep(self, rep: int) -> None:
        """Encode the seeded base rows into a fresh table."""
        from eel_sdk_spark import checkpoint
        from eel_sdk_spark.table import ManifestTable

        n = self.conf["rows"]
        tbl = ManifestTable(self.wh, f"append_{rep}")
        checkpoint.encode_with_checkpoint(
            self.spark, source_df(self.spark, self.lo, self.lo + n), tbl,
            run_id="base")
        self.tables = getattr(self, "tables", []) + [tbl]

    def prepare(self) -> None:
        n, inc = self.conf["rows"], self.conf["inc"]
        self.base_ids = np.arange(self.lo, self.lo + n, dtype=np.int64)
        self.hash_rows(source_df(self.spark, self.lo, self.lo + n + (
            WARMUP_CYCLES[self.name] + self.cycles) * inc))
        for tbl in self.tables[1:-1]:
            shutil.rmtree(tbl.dir, ignore_errors=True)
        # warm-up grows the first set-up table; timing uses the last one
        self._use(self.tables[0])

    def _use(self, tbl) -> None:
        self.table = tbl
        self.live = {r["url"] for r in corpus_rows(self.base_ids)}
        self.gone = set()
        self.next_lo = self.lo + len(self.base_ids)

    def begin_timed(self) -> None:
        """Time the last set-up table, after one timed takedown, so
        every timed read applies a tombstone list."""
        shutil.rmtree(self.table.dir, ignore_errors=True)
        self._use(self.tables[-1])
        self.delete(self.rng.choice(self.base_ids, 2, replace=False), True)

    def cycle(self, i: int, timed: bool, scan: bool = True) -> None:
        """Append, read-your-writes lookup, scan."""
        from eel_sdk_spark import checkpoint

        inc = self.conf["inc"]
        lo, self.next_lo = self.next_lo, self.next_lo + inc
        inc_df = source_df(self.spark, lo, lo + inc)
        if not self.write(lambda: checkpoint.append_encode(
                self.spark, inc_df, self.table, run_id=f"inc{i}"),
                inc, timed):
            return
        new = corpus_rows(np.arange(lo, lo + inc))
        self.live |= {r["url"] for r in new}
        # read-your-writes: a key this very cycle appended
        fresh = new[int(self.rng.integers(0, inc))]
        self.lookup(fresh["url"], fresh, timed)
        if scan:
            self.scan(timed)

    def probe_miss(self) -> None:
        """After the timed cycles, one lookup of a key taken down before
        them (if that delete failed, of an unwritten url); it must return
        nothing."""
        if not self.gone:
            return super().probe_miss()
        url = corpus_rows(sorted(self.gone)[:1])[0]["url"]
        self.lookup(url, None, True, "miss")

    def finish(self) -> None:
        """Bit-identity of the grown table; its bytes against the
        reference encoder's single bulk write of the same rows (deleted
        rows are tombstoned, so still stored)."""
        self.bit_identity()
        self.size_vs_ref = table_bytes(self.table) / self.reference_bytes(
            source_df(self.spark, self.lo, self.next_lo))


WORKLOADS = {w.name: w for w in (BulkServe, AppendScan)}
