"""Production decode entry point.

    spark-submit --driver-memory 48g --py-files eel_sdk_spark.zip \
        jobs/decode_job.py \
        --warehouse /path/wh --table blocks --schema "url string, ..." \
        --output /path/out [--columns url,text] [--verify-against <parquet>]
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def _parse_where(expr: str, schema_ddl: str, tz: str):
    """'col OP value' -> ``(Predicate, typed)``. The IR compiles to the
    row filter and the range bounds. The value is typed from the decode
    schema: an int for an integral column, a date for a date, a datetime
    for a timestamp (a naive literal in the session time zone ``tz``,
    as Spark casts a string). Otherwise it stays the string, which the
    row filter casts to the column's type. ``typed`` says the value is
    in the column's own type (string, integer, date, timestamp): only
    such a probe may be compared with the stored key ranges, block
    stats and blooms."""
    from datetime import date, datetime
    from zoneinfo import ZoneInfo

    from pyspark.sql.types import (DateType, IntegralType, StringType,
                                   StructType, TimestampType)

    from eel_sdk_spark import predicate as P

    m = re.fullmatch(r"\s*(\w+)\s*(=|!=|<=|>=|<|>)\s*(.+?)\s*", expr)
    if not m:
        raise SystemExit(f"cannot parse --where {expr!r}: expected 'col OP value'")
    col, op, raw = m.groups()
    typ = next((f.dataType for f in StructType.fromDDL(schema_ddl).fields
                if f.name == col), None)
    value: object = raw.strip("'\"")
    typed = isinstance(typ, StringType)
    if isinstance(typ, IntegralType):
        try:
            value = int(raw)
        except ValueError:
            raise SystemExit(f"--where {expr!r}: {col!r} is integral but "
                             f"{raw!r} is not an integer")
        typed = True
    elif isinstance(typ, (DateType, TimestampType)):
        try:
            if isinstance(typ, DateType):
                value = date.fromisoformat(value)
            else:
                value = datetime.fromisoformat(value)
                if value.tzinfo is None:
                    value = value.replace(tzinfo=ZoneInfo(tz))
            typed = True
        except (ValueError, KeyError):  # the row filter casts the string
            pass
    cls = {"=": P.Equals, "!=": P.NotEquals, "<": P.Lt, "<=": P.Lte,
           ">": P.Gt, ">=": P.Gte}[op]
    return cls(col, value), typed


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    p.add_argument("--table", default="blocks")
    p.add_argument("--schema", default=None,
                   help="decode DDL; omit to use the schema the encode "
                        "run stored in the manifest (row_schema_ddl)")
    p.add_argument("--output", default=None)
    p.add_argument("--columns", default=None)
    p.add_argument("--where", default=None,
                   help="simple predicate 'col OP value' (OP in = != < <= > >=);"
                        " a bound on a string, integer, date or timestamp"
                        " column is served as a range lookup (manifest key"
                        " ranges, block min/max stats and blooms prune"
                        " before any payload is read); live tombstones are"
                        " dropped")
    p.add_argument("--verify-against", default=None,
                   help="original parquet; reports per-column match counts")
    p.add_argument("--key", default="url")
    p.add_argument("--key-point", default=None,
                   help="single-key point lookup (point_lookup: part\npruning + manifest key ranges + bloom index/scan + block skipping);\ntyped from --schema like --key-range")
    p.add_argument("--key-range", default=None,
                   help="'lo..hi' inclusive range on --key: three-tier "
                        "skipping (manifest per-file key ranges -> block "
                        "min/max stats -> residual row filter); integer "
                        "bounds when both parse as ints. Mutually "
                        "exclusive with --where/--snapshot-id")
    p.add_argument("--no-verify-crc", action="store_true",
                   help="skip per-block payload CRC verification on the "
                        "storage decode path (on by default; crc32 over "
                        "the compressed payload is within decode run "
                        "noise)")
    p.add_argument("--snapshot-id", type=int, default=None,
                   help="time travel: decode the table AS OF this "
                        "snapshot instead of the current one")
    p.add_argument("--as-of", default=None,
                   help="time travel by TIMESTAMP (epoch seconds or "
                        "ISO-8601, naive = UTC): decode the newest "
                        "snapshot committed at or before it")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.table import ManifestTable

    spark = get_spark(app="decode")
    try:
        tbl = ManifestTable(args.warehouse, args.table)
        if args.as_of is not None:
            if args.snapshot_id is not None:
                raise SystemExit("--as-of is mutually exclusive with "
                                 "--snapshot-id")
            try:
                args.as_of = float(args.as_of)
            except ValueError:
                pass
            args.snapshot_id = tbl.snapshot_as_of(args.as_of).snapshot_id
        if args.schema is None:
            # resolve from the snapshot being read: a time-travel read
            # of a pre-rename snapshot must use ITS schema, not today's
            args.schema = tbl.row_schema(
                tbl.snapshot(args.snapshot_id)
                if args.snapshot_id is not None else None)
        cols = args.columns.split(",") if args.columns else None
        if args.key_point is not None:
            if args.where or args.snapshot_id is not None \
                    or args.key_range:
                raise SystemExit("--key-point is mutually exclusive "
                                 "with --where/--snapshot-id/"
                                 "--key-range")
            from pyspark.sql.types import StringType, StructType

            from eel_sdk_spark.checkpoint import point_lookup

            # composite keys: --key source,doc_id --key-point src0:300
            # (':'-separated values, one per component, typed from
            # --schema like the single-key path)
            kcols = (args.key.split(",") if "," in args.key
                     else [args.key])
            # left-maxsplit so the LAST component may itself contain
            # ':' (URLs) — order composite keys with the id-ish
            # components first
            kraw = (args.key_point.split(":", len(kcols) - 1)
                    if len(kcols) > 1 else [args.key_point])
            if len(kraw) != len(kcols):
                raise SystemExit(
                    f"--key-point {args.key_point!r}: composite key "
                    f"{kcols} needs {len(kcols)} ':'-separated values")
            fields = {f.name: f for f in
                      StructType.fromDDL(args.schema).fields}
            kvals = []
            for c, v in zip(kcols, kraw):
                fld = fields.get(c)
                if fld is not None and not isinstance(
                        fld.dataType, StringType):
                    try:
                        v = int(v)
                    except ValueError:
                        raise SystemExit(
                            f"--key-point {args.key_point!r}: key "
                            f"{c!r} is non-string in --schema but "
                            f"the value is not an integer")
                kvals.append(v)
            kv = kvals[0] if len(kcols) == 1 else tuple(kvals)
            decoded = point_lookup(spark, tbl, kv, args.schema,
                                   key=(kcols[0] if len(kcols) == 1
                                        else kcols))
            if cols:
                decoded = decoded.select(*cols)
        elif args.key_range:
            if args.where or args.snapshot_id is not None:
                raise SystemExit("--key-range is mutually exclusive with "
                                 "--where/--snapshot-id")
            from eel_sdk_spark.checkpoint import range_lookup

            lo, _, hi = args.key_range.partition("..")
            if not _:
                raise SystemExit(f"--key-range {args.key_range!r}: "
                                 f"expected 'lo..hi'")
            # type the bounds from the DECODE SCHEMA, not by guessing
            # (r6: a numeric-looking range on a string-keyed table would
            # otherwise probe the wrong bloom/range hash family — the
            # library now fails fast on that, so parse authoritatively)
            from pyspark.sql.types import StringType, StructType

            key_field = next(
                (f for f in StructType.fromDDL(args.schema).fields
                 if f.name == args.key), None)
            if key_field is None or not isinstance(key_field.dataType,
                                                   StringType):
                try:
                    lo, hi = int(lo), int(hi)
                except ValueError:
                    raise SystemExit(
                        f"--key-range {args.key_range!r}: key "
                        f"{args.key!r} is non-string in --schema but "
                        f"the bounds are not integers")
            decoded = range_lookup(spark, tbl, lo, hi, args.schema,
                                   key=args.key)
            if cols:
                decoded = decoded.select(*cols)
        elif args.where:
            # a bound on a typed column is served as a range lookup, so
            # manifest key ranges, block stats and blooms prune; either
            # way the kernel drops tombstones and resolves renames and
            # widenings, and the predicate filters the rows
            from eel_sdk_spark.checkpoint import range_lookup

            pred, typed = _parse_where(
                args.where, args.schema,
                spark.conf.get("spark.sql.session.timeZone"))
            bounded = pred.to_block_ranges()
            if bounded and typed:
                (col, (lo, hi)), = bounded.items()
                decoded = range_lookup(spark, tbl, lo, hi, args.schema,
                                       key=col,
                                       snapshot_id=args.snapshot_id)
            else:  # != or an untyped literal: every block group
                decoded = tbl.read_decoded(spark, args.schema,
                                           snapshot_id=args.snapshot_id,
                                           verify=not args.no_verify_crc)
            decoded = decoded.filter(pred.to_column())
            if cols:
                decoded = decoded.select(*cols)
        else:
            # zero-shuffle storage decode: whole block files per task
            # (groups are file-adjacent by construction), no regroup
            # exchange
            decoded = tbl.read_decoded(spark, args.schema, columns=cols,
                                       snapshot_id=args.snapshot_id,
                                       verify=not args.no_verify_crc)
        out: dict = {}
        if args.output:
            decoded.write.mode("overwrite").parquet(args.output)
            out["written"] = args.output
            out["rows"] = spark.read.parquet(args.output).count()
        if args.verify_against:
            orig = spark.read.parquet(args.verify_against)
            j = decoded.alias("d").join(orig.alias("o"), args.key)
            checks = [F.count("*").alias("rows_joined")]
            for c in decoded.columns:
                if c == args.key:
                    continue
                checks.append(
                    F.sum(F.when(F.col(f"d.{c}").eqNullSafe(F.col(f"o.{c}")),
                                 1).otherwise(0)).alias(f"{c}_matches"))
            out["verify"] = j.agg(*checks).collect()[0].asDict()
        if not args.output and not args.verify_against:
            out["rows"] = decoded.count()
        sys.stdout.write(json.dumps(out) + "\n")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
