"""CLI — the reference's ``niamoto run`` pipeline entry point
(reference: src/niamoto/cli/commands/run.py:61-118) for the Spark engine.

Usage:
    python -m niamoto_spark run --config <dir> --warehouse <dir> [--out <dir>]
    python -m niamoto_spark import|transform|export ...
    python -m niamoto_spark explore --warehouse <dir> --entity <name> \
        [--where <predicate>] [--order-by col] [--limit N]

``--config`` points at a directory holding the reference-dialect
``import.yml`` / ``transform.yml`` / ``export.yml``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _load_yaml(path: str):
    import yaml

    with open(path) as f:
        return yaml.safe_load(f)


def _pipeline(args):
    from niamoto_spark.catalog import EntityRegistry
    from niamoto_spark.pipeline import Pipeline
    from niamoto_spark.session import get_spark

    spark = get_spark("niamoto_spark_cli")
    registry = None
    reg_path = os.path.join(args.warehouse, "registry.json")
    if os.path.exists(reg_path):
        registry = EntityRegistry.open(reg_path)
    return Pipeline(spark, warehouse=args.warehouse, registry=registry)


def cmd_import(args) -> int:
    pipe = _pipeline(args)
    cfg = _load_yaml(os.path.join(args.config, "import.yml"))
    reg = pipe.run_import(cfg, base_dir=args.config)
    print(json.dumps({"imported": reg.names()}))
    return 0


def cmd_transform(args) -> int:
    pipe = _pipeline(args)
    cfg = _load_yaml(os.path.join(args.config, "transform.yml"))
    results = pipe.run_transform(cfg, group_by=args.group)
    for w in pipe.warnings:
        print(f"warning: {w}", file=sys.stderr)
    # count the group tables just written from their parquet footers:
    # no Spark job, and never the group plans, which would run the whole
    # transform a second time
    import pyarrow.parquet as pq

    print(json.dumps({
        g: sum(pq.read_metadata(f).num_rows
               for f in pq.ParquetDataset(pipe.group_table(g)).files)
        for g in results}))
    return 0


def cmd_export(args) -> int:
    pipe = _pipeline(args)
    cfg = _load_yaml(os.path.join(args.config, "export.yml"))
    manifests = pipe.run_export(cfg, out_dir=args.out)
    print(json.dumps(manifests))
    return 0


def cmd_run(args) -> int:
    """import -> transform -> export, like ``niamoto run``."""
    rc = cmd_import(args)
    rc = rc or cmd_transform(args)
    export_path = os.path.join(args.config, "export.yml")
    if os.path.exists(export_path):
        rc = rc or cmd_export(args)
    return rc


def cmd_explore(args) -> int:
    """The GUI data-explorer surface (reference data_explorer.py:62-322):
    restricted predicate grammar + safe order by + capped limit."""
    from niamoto_spark.catalog import EntityRegistry
    from niamoto_spark.plans.explorer import explore
    from niamoto_spark.session import get_spark

    spark = get_spark("niamoto_spark_explore")
    reg = EntityRegistry.open(os.path.join(args.warehouse, "registry.json"))
    df = reg.load(spark, args.entity)
    out = explore(df, args.where, order_by=args.order_by,
                  descending=args.desc, limit=args.limit)
    for row in out.collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_plugins(args) -> int:
    """Plugin discovery (reference `niamoto plugins`): every
    registered plugin name by type, so configs can be authored against
    the actual registry."""
    from niamoto_spark import registry as _r

    _r.load_all()
    listing = _r.list_plugins()
    for ptype in sorted(listing):
        for name in sorted(listing[ptype]):
            print(json.dumps({"type": ptype, "name": name}))
    return 0


def cmd_table(args) -> int:
    """Lakehouse maintenance surface over manifest tables: DESCRIBE
    HISTORY / time-travel restore / compaction / vacuum / shallow
    clone — the table-operations CLI a warehouse operator expects."""
    from niamoto_spark.session import get_spark
    from niamoto_spark.sources import manifest as M

    op = args.op
    if op == "history":
        spark = get_spark("niamoto_spark_table")
        for row in M.table_history(spark, args.path).collect():
            print(json.dumps(row.asDict(), default=str))
    elif op == "restore":
        v = M.restore_version(args.path, args.version)
        print(json.dumps({"restored_to": args.version,
                          "new_version": v}))
    elif op == "compact":
        spark = get_spark("niamoto_spark_table")
        sort_by = args.sort_by.split(",") if args.sort_by else None
        v = M.compact(spark, args.path, target_files=args.target_files,
                      sort_by=sort_by,
                      cluster=args.cluster)
        print(json.dumps({"compacted_version": v}))
    elif op == "vacuum":
        removed = M.vacuum(args.path, keep_versions=args.keep_versions)
        print(json.dumps({"files_removed": removed}))
    elif op == "clone":
        M.shallow_clone(args.path, args.dest)
        print(json.dumps({"cloned_to": args.dest}))
    else:
        raise SystemExit(f"unknown table op {op!r}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="niamoto_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name, fn in [("import", cmd_import), ("transform", cmd_transform),
                     ("export", cmd_export), ("run", cmd_run)]:
        sp = sub.add_parser(name)
        sp.add_argument("--config", required=True)
        sp.add_argument("--warehouse", required=True)
        sp.add_argument("--out", default="./out")
        sp.add_argument("--group", default=None)
        sp.set_defaults(fn=fn)
    se = sub.add_parser("explore")
    se.add_argument("--warehouse", required=True)
    se.add_argument("--entity", required=True)
    se.add_argument("--where", default=None)
    se.add_argument("--order-by", dest="order_by", default=None)
    se.add_argument("--desc", action="store_true")
    se.add_argument("--limit", type=int, default=100)
    se.set_defaults(fn=cmd_explore)
    st_ = sub.add_parser("table")
    st_.add_argument("op", choices=["history", "restore", "compact",
                                    "vacuum", "clone"])
    st_.add_argument("--path", required=True)
    st_.add_argument("--version", type=int, default=None)
    st_.add_argument("--dest", default=None)
    st_.add_argument("--target-files", dest="target_files", type=int,
                     default=8)
    st_.add_argument("--sort-by", dest="sort_by", default=None)
    st_.add_argument("--cluster", default="range")
    st_.add_argument("--keep-versions", dest="keep_versions", type=int,
                     default=1)
    st_.set_defaults(fn=cmd_table)
    spl = sub.add_parser("plugins")
    spl.set_defaults(fn=cmd_plugins)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
