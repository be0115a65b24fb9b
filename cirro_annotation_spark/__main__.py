"""CLI — the reference's ``annotate`` command (main.py:11-19), prompts
replaced by flags, plus a plain ``execute`` for pre-built manifests and
a ``datasets`` listing.

    python -m cirro_annotation_spark annotate \
        --data-dir ./data --output-dir ./out \
        --variable-template 'mageck/[gene]/rra.sgrna_summary.txt' \
        --melt 'mageck/count/combined/counts.txt:ctrl_r1,ctrl_r2' \
        --fields fields.json --manifest-out manifest.json

    python -m cirro_annotation_spark execute --manifest manifest.json \
        --data-dir ./data --output-dir ./out
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_melt(specs: list[str]) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for spec in specs:
        path, _, cols = spec.partition(":")
        if not cols:
            raise SystemExit(f"--melt needs file:col1,col2 — got {spec!r}")
        out[path] = [c for c in cols.split(",") if c]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cirro_annotation_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    an = sub.add_parser("annotate", help="walk a dataset, build + run the manifest")
    an.add_argument("--data-dir", required=True)
    an.add_argument("--output-dir", required=True)
    an.add_argument("--variable-template", action="append", default=[])
    an.add_argument("--melt", action="append", default=[],
                    help="file_or_template:col1,col2,...")
    an.add_argument("--fields", help="fields.json (rich, flat, or mapping form)")
    an.add_argument("--process", default="*")
    an.add_argument("--manifest-out", help="also write the manifest JSON here")

    ex = sub.add_parser("execute", help="run an existing manifest")
    ex.add_argument("--manifest", required=True)
    ex.add_argument("--data-dir", required=True)
    ex.add_argument("--output-dir", required=True)

    # The reference's ask_dataset prompt (ask_dataset.py:13-34) as a
    # non-interactive listing: newest first, labeled "{name} - {id}".
    ch = sub.add_parser("datasets", help="list datasets newest-first")
    ch.add_argument("--table", required=True, help="parquet file to list")
    ch.add_argument("--name-col", required=True)
    ch.add_argument("--id-col", required=True)
    ch.add_argument("--created-col", required=True)
    ch.add_argument("--limit", type=int, default=25)

    args = ap.parse_args(argv)

    from cirro_annotation_spark.session import get_spark

    spark = get_spark("cirro_annotation_spark_cli")
    if args.cmd == "datasets":
        from cirro_annotation_spark.sources.datasets import newest_first_listing

        df = newest_first_listing(
            spark.read.parquet(args.table),
            args.name_col,
            args.id_col,
            args.created_col,
            limit=args.limit,
        )
        for row in df.collect():
            print(f"{row['label']}\t{row['created_day']}")
        return 0

    if args.cmd == "execute":
        from cirro_annotation_spark.manifest.executor import execute_manifest
        from cirro_annotation_spark.manifest.model import load_manifest

        with open(args.manifest) as f:
            m = load_manifest(json.load(f))
        results = execute_manifest(spark, m, args.data_dir, args.output_dir)
        for target, df in results.items():
            print(f"{target}: {df.count()} rows")
        return 0

    # annotate
    from cirro_annotation_spark.manifest import annotate

    dictionary = None
    if args.fields:
        with open(args.fields) as f:
            dictionary = json.load(f)
    manifest, results = annotate(
        spark,
        args.data_dir,
        args.output_dir,
        variable_templates=args.variable_template,
        melt_groups=_parse_melt(args.melt),
        dictionary=dictionary,
        process=args.process,
    )
    if args.manifest_out:
        with open(args.manifest_out, "w") as f:
            f.write(manifest.to_json())
    for target, df in results.items():
        print(f"{target}: {df.count()} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
