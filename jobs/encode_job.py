"""Production encode entry point.

    spark-submit --driver-memory 48g --py-files eel_sdk_spark.zip \
        jobs/encode_job.py \
        --input <parquet dir or 'synthetic:N'> --warehouse /path/wh \
        --table blocks --key url --parts 256 [--salt 4] \
        [--profile speed|compression] [--run-id r1]

Reads the input table, encodes every column into blocks with checkpointed
per-partition lineage (resume: rerunning the same command skips committed
parts), commits one manifest snapshot. The cluster-mode analogue of the
reference's CLI stream command (eel-cli/src/main/scala/io/eels/cli/Main.scala:7-26).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="parquet path, or synthetic:<rows> for the corpus")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--table", default="blocks")
    p.add_argument("--key", default=None,
                   help="lineage key column; comma-separate for a "
                        "COMPOSITE key, e.g. --key source,doc_id "
                        "(default: the table's lineage key, else url)")
    p.add_argument("--parts", type=int, default=None)
    p.add_argument("--salt", type=int, default=None,
                   help="default: the table's lineage salt, else 1")
    p.add_argument("--salt-by", default=None,
                   help="fine-grained column spreading hot keys (e.g. url "
                        "when --key is a domain column)")
    p.add_argument("--auto-salt", action="store_true",
                   help="derive --salt from measured key skew")
    p.add_argument("--codec", action="append", default=[],
                   metavar="COL=CODEC",
                   help="force a codec for a column (repeatable), e.g. "
                        "--codec text=fsst --codec lang=dict; the per-sink "
                        "encoding toggles of the reference "
                        "(ParquetSink.scala:13-26) as explicit overrides")
    p.add_argument("--profile", default="speed",
                   choices=["speed", "compression", "archive"])
    p.add_argument("--shuffle-mode", default="auto",
                   choices=["auto", "true", "local"],
                   help="'local' (the 'auto' default) keeps content-derived "
                        "lineage without the part_id Exchange — at corpus "
                        "scale the hash shuffle buys only output-file "
                        "locality; 'true' restores part-aligned files for "
                        "point-lookup-heavy tables")
    p.add_argument("--run-id", default="run")
    p.add_argument("--sort-by", action="append", default=[],
                   help="Iceberg-style table sort order: sort rows by "
                        "these columns within each part before encoding "
                        "(clusters values so FOR/RLE/dict/zstd bite; "
                        "repeatable)")
    p.add_argument("--zorder", default=None,
                   help="comma-separated numeric/timestamp columns: sort "
                        "by their Morton key so block stats prune on "
                        "EVERY listed column (multi-dim sort_by)")
    p.add_argument("--zorder-bounds", default=None,
                   help="JSON {col: [lo, hi]} precomputed bounds (from "
                        "column_profile or manifest stats): skips the "
                        "full-table min/max scan the Morton ranks need — "
                        "at 100 TB that is one whole extra corpus pass; "
                        "timestamps take epoch-microsecond bounds")
    p.add_argument("--no-key-bloom", action="store_true",
                   help="skip per-block key bloom filters (saves ~1.25 "
                        "bytes/key; point lookups on scattered layouts "
                        "fall back to decoding every candidate file)")
    p.add_argument("--append", action="store_true",
                   help="append NEW rows as a lineage-recorded run "
                        "(adopts the table's partitioning; the default "
                        "path is the same-input resume checkpoint)")
    p.add_argument("--stage", default=None,
                   help="commit onto a named ref instead of main "
                        "(write-audit-publish: fsck the staged snapshot, "
                        "then `eel publish --ref <name>`)")
    p.add_argument("--bloom-bits", type=int, default=None,
                   help="bloom size in bits per key value (default 10 ~1% fp).\nSize to the table's FILE count: fp file-opens per lookup scale\nlinearly with candidates — 16 bits (~0.2% fp) keeps 512-file\ntables at ~2 opens (BENCH.md round-7)")
    p.add_argument("--bloom-cols", default=None,
                   help="comma-separated EXTRA columns to bloom (ORC "
                        "bloomFilterColumns analogue): equality "
                        "predicates on them get block-level skipping")
    args = p.parse_args(argv)

    from eel_sdk_spark.checkpoint import encode_with_checkpoint
    from eel_sdk_spark.corpus import webtext_df
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app=f"encode-{args.run_id}")
    try:
        if args.input.startswith("synthetic:"):
            df = webtext_df(spark, int(args.input.split(":", 1)[1]))
        else:
            df = spark.read.parquet(args.input)
        tbl = ManifestTable(args.warehouse, args.table)
        key = (args.key.split(",") if args.key and "," in args.key
               else args.key)
        salt = args.salt
        if args.auto_salt:
            from eel_sdk_spark.encode import recommend_salt

            n_parts = args.parts or spark.sparkContext.defaultParallelism * 2
            salt = max(salt or 1, recommend_salt(df, key or "url", n_parts))
        overrides = dict(kv.split("=", 1) for kv in args.codec)
        sort_by = list(args.sort_by)
        if args.zorder:
            from eel_sdk_spark.encode import zorder_key

            zb = None
            if args.zorder_bounds:
                zb = {c: (float(lo), float(hi)) for c, (lo, hi)
                      in json.loads(args.zorder_bounds).items()}
            sort_by.append(zorder_key(df, args.zorder.split(","), bounds=zb))
        if args.append:
            from eel_sdk_spark.checkpoint import append_encode

            run = append_encode(
                spark, df, tbl, run_id=args.run_id,
                key=key,
                n_parts=args.parts, profile=args.profile,
                shuffle={"auto": "auto", "local": "local",
                         "true": True}[args.shuffle_mode],
                sort_by=sort_by or None, stage=args.stage,
                key_bloom=not args.no_key_bloom,
                bloom_cols=(args.bloom_cols.split(",")
                            if args.bloom_cols else None),
                bloom_bits=args.bloom_bits)
            sys.stdout.write(json.dumps(run) + "\n")
            return
        run = encode_with_checkpoint(
            spark, df, tbl, key=key, n_parts=args.parts,
            salt=salt, salt_by=args.salt_by, run_id=args.run_id,
            profile=args.profile, codec_overrides=overrides or None,
            shuffle={"auto": "auto", "local": "local",
                     "true": True}[args.shuffle_mode],
            sort_by=sort_by or None,
            key_bloom=not args.no_key_bloom,
            bloom_cols=(args.bloom_cols.split(",")
                        if args.bloom_cols else None),
            bloom_bits=args.bloom_bits, stage=args.stage)
        sys.stdout.write(json.dumps(run) + "\n")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
