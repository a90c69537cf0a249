"""CLI for the engine — the user-visible parity surface.

The reference exposes three executables (``pyproject.toml:22-25``):
``mapreduce-submit`` (job submission, ``submit.py:53-97``),
``mapreduce-manager`` and ``mapreduce-worker`` (cluster membership —
replaced wholesale by Spark, SURVEY.md §3.1). This CLI preserves the
one that carries user intent:

    python -m engine submit --input DIR --output DIR \\
        --mapper EXE --reducer EXE [--nmappers 2] [--nreducers 2]

(flag names and 2/2 defaults match ``submit.py:37-58``), and adds the
Layer-B surface:

    python -m engine list                       # registered queries
    python -m engine query NAME [--sf-dir DIR] [--limit N] [--explain]

Lifecycle parity (reference ``bin/mapreduce start|stop|status``):
``start`` / ``status`` / ``stop`` map the reference's manager+worker
daemon lifecycle onto the Spark session lifecycle. There are no
long-lived daemons to manage — cluster membership, heartbeats, and
fault detection are Spark's (SURVEY.md §3.1: F13-F16 delegated), so
``start`` brings up a session and reports its topology, ``status``
reports the active session (or that none exists), and ``stop`` tears
the active session down. On a real cluster these wrap
``spark-submit`` / the cluster manager instead; the subcommands exist
so every reference executable has a named counterpart.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark():
    from engine.session import get_spark

    return get_spark("engine-cli")


def cmd_submit(args: argparse.Namespace) -> int:
    from engine.mapreduce.runner import run_job

    mapper = [args.mapper] + args.mapper_args
    reducer = [args.reducer] + args.reducer_args
    outputs = run_job(
        _spark(),
        args.input,
        args.output,
        mapper if len(mapper) > 1 else args.mapper,
        reducer if len(reducer) > 1 else args.reducer,
        num_mappers=args.nmappers,
        num_reducers=args.nreducers,
    )
    for p in outputs:
        print(p)
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    from engine.registry import all_queries, all_queries_including_library

    specs = all_queries_including_library() if args.all else all_queries()
    exported = set(all_queries())
    for name, spec in specs.items():
        oracle = "oracled" if spec.oracle else "rows-only"
        kind = "" if name in exported else " (library)"
        print(f"{name:40s} [{', '.join(spec.tags)}] ({oracle}){kind}")
    return 0


def cmd_start(_args: argparse.Namespace) -> int:
    spark = _spark()
    sc = spark.sparkContext
    print(f"session up: app={sc.applicationId} master={sc.master} "
          f"cores={sc.defaultParallelism} spark={spark.version}")
    return 0


def cmd_status(_args: argparse.Namespace) -> int:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        print("no active session in this process "
              "(sessions are per-process; `start` creates one)")
        return 1
    sc = active.sparkContext
    print(f"active: app={sc.applicationId} master={sc.master} "
          f"cores={sc.defaultParallelism}")
    return 0


def cmd_stop(_args: argparse.Namespace) -> int:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        print("no active session to stop")
        return 1
    active.stop()
    print("session stopped")
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    # Include the library layer: `list --all` prints those names, so
    # `query` must be able to run every name it advertises.
    from engine.registry import all_queries_including_library

    specs = all_queries_including_library()
    if args.name not in specs:
        print(f"unknown query {args.name!r}; see `python -m engine list`",
              file=sys.stderr)
        return 2
    df = specs[args.name].fn(_spark(), args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def cmd_vstore(args: argparse.Namespace) -> int:
    """Operate the versioned store (engine/versioned_store.py) — the
    admin half of the versioning layer: inspect versions, pin-read a
    snapshot, roll back, vacuum."""
    from engine import versioned_store as vs

    if args.action == "versions":
        cur = vs.current_version(args.store)
        seen: set[str] = set()
        for v in vs.versions(args.store):
            man = vs._read_manifest(args.store, v)
            # LIVE rows: a deletion-vector'd entry counts only its
            # undeleted rows, matching what reads return
            rows = sum(vs._live_rows(e) for e in man["files"])
            size = sum(e.get("bytes", 0) for e in man["files"])
            # bytes this version added beyond what older versions
            # already store — the copy-on-write dividend, made visible
            new_b = sum(
                e.get("bytes", 0)
                for e in man["files"]
                if e["file"] not in seen
            )
            seen |= {e["file"] for e in man["files"]}
            mark = " (current)" if v == cur else ""
            rb = (
                f" rolled_back_from=v{man['rolled_back_from']}"
                if "rolled_back_from" in man
                else ""
            )
            print(
                f"v{v:05d}: {len(man['files'])} files, {rows} rows,"
                f" {size / 1e6:.2f} MB ({new_b / 1e6:.2f} MB new){rb}{mark}"
            )
        return 0
    if args.action == "read":
        if args.version is not None and args.as_of_timestamp is not None:
            print(
                "read takes --version or --as-of-timestamp, not both",
                file=sys.stderr,
            )
            return 2
        range_f = {}
        for spec in args.range or []:
            col, lo, hi = spec.split(":", 2)
            range_f[col] = (
                float(lo) if "." in lo else int(lo) if lo else None,
                float(hi) if "." in hi else int(hi) if hi else None,
            )
        point_f = {}
        for spec in args.point or []:
            col, val = spec.split(":", 1)
            point_f[col] = val
        df = vs.read_version(
            _spark(), args.store, args.version,
            partition_values=args.partitions.split(",")
            if args.partitions else None,
            range_filters=range_f or None,
            point_filters=point_f or None,
            as_of_timestamp=args.as_of_timestamp,
        )
        df.show(args.limit, truncate=False)
        return 0
    if args.action == "history":
        for v in vs.versions(args.store):
            man = vs._read_manifest(args.store, v)
            kind = (
                f"compacted_from=v{man['compacted_from']:05d}"
                if "compacted_from" in man
                else f"rolled_back_from=v{man['rolled_back_from']:05d}"
                if "rolled_back_from" in man
                else f"delete({man['deleted_keys']} keys)"
                if "deleted_keys" in man
                else "cloned_from="
                + f"{man['cloned_from']['store']}"
                + f"@v{man['cloned_from']['version']:05d}"
                if "cloned_from" in man
                else "commit"
            )
            extras = []
            if man.get("zorder"):
                extras.append(f"zorder={man['zorder']}")
            if "rebased_from_base" in man:
                extras.append(
                    f"rebased_from_base=v{man['rebased_from_base']:05d}"
                )
            for name, st in sorted(man.get("expectations", {}).items()):
                extras.append(
                    f"expect:{name}={st['violations']} {st['action']}ped"
                )
            if vs._bloom_config(args.store, v) is not None:
                extras.append("bloomed")
            if "committed_at" in man:  # timestamp time-travel anchor
                import datetime as _dt

                extras.append(
                    _dt.datetime.fromtimestamp(
                        man["committed_at"], tz=_dt.timezone.utc
                    ).strftime("at %Y-%m-%dT%H:%M:%SZ")
                )
            print(
                f"v{v:05d}: {kind} — {len(man['files'])} files"
                + (f" [{', '.join(extras)}]" if extras else "")
            )
        return 0
    if args.action == "clone":
        if not args.dest:
            print("clone requires --dest", file=sys.stderr)
            return 2
        vs.clone_store(None, args.store, args.dest, version=args.version)
        src_v = (
            args.version
            if args.version is not None
            else vs.current_version(args.store)
        )
        print(f"cloned {args.store}@v{src_v:05d} -> {args.dest}@v00001")
        return 0
    if args.action in ("rollback", "restore"):
        if args.version is None:
            print(f"{args.action} requires --version", file=sys.stderr)
            return 2
        v = vs.rollback(args.store, args.version)
        print(f"restored v{args.version:05d} as v{v:05d}")
        return 0
    if args.action == "rename-column":
        if not args.old or not args.new:
            print("rename-column requires --old and --new", file=sys.stderr)
            return 2
        v = vs.rename_column(args.store, args.old, args.new)
        print(f"renamed {args.old} -> {args.new} as v{v:05d} (zero-copy)")
        return 0
    if args.action == "drop-column":
        if not args.old:
            print("drop-column requires --old", file=sys.stderr)
            return 2
        v = vs.drop_column(args.store, args.old)
        print(f"dropped {args.old} as v{v:05d} (zero-copy; older"
              " versions still read it)")
        return 0
    if args.action == "vacuum":
        removed = vs.vacuum(
            args.store, keep_latest=args.keep, grace_seconds=args.grace
        )
        for name in removed:
            print(f"removed {name}")
        print(f"{len(removed)} files removed, kept latest {args.keep}")
        return 0
    if args.action == "changes":
        if args.from_version is None:
            print("changes requires --from-version", file=sys.stderr)
            return 2
        vb = (
            args.version
            if args.version is not None
            else vs.current_version(args.store)
        )
        feed = vs.table_changes(
            _spark(), args.store, args.from_version, vb,
            args.keys.split(","),
        )
        feed.show(args.limit, truncate=False)
        return 0
    if args.action == "optimize":
        zcols = args.zorder.split(",") if args.zorder else None
        v = vs.optimize_auto(
            _spark(), args.store,
            max_files=args.max_files,
            target_file_bytes=args.target_file_bytes,
            zorder_cols=zcols, max_retries=args.retries,
        )
        if v is None:
            print("store is healthy: no-op")
            return 0
        man = vs._read_manifest(args.store, v)
        print(
            f"optimized as v{v:05d}:"
            f" {man['optimized_partitions']} partition(s) rewritten,"
            f" {len(man['files'])} files total"
            + (f" zorder={zcols}" if zcols else "")
        )
        return 0
    if args.action == "compact":
        zcols = args.zorder.split(",") if args.zorder else None
        if args.partial:
            v = vs.compact_partitions(
                _spark(), args.store,
                files_per_partition=args.files_per_partition,
                zorder_cols=zcols, max_retries=args.retries,
            )
            if v is None:
                print("nothing fragmented: no-op")
                return 0
        else:
            v = vs.compact_version(
                _spark(), args.store,
                files_per_partition=args.files_per_partition,
                zorder_cols=zcols,
            )
        man = vs._read_manifest(args.store, v)
        z = f" zorder={zcols}" if zcols else ""
        if args.partial:
            print(
                f"compacted as v{v:05d}:"
                f" {man['compacted_partitions']} partition(s) rewritten,"
                f" {len(man['files'])} files total{z}"
            )
        else:
            print(f"compacted as v{v:05d}: {len(man['files'])} files{z}")
        return 0
    return 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m engine")
    sub = ap.add_subparsers(dest="cmd", required=True)

    # Flags mirror the reference's mapreduce-submit (submit.py:37-58).
    s = sub.add_parser("submit", help="run a Hadoop-Streaming-style job")
    s.add_argument("--input", "-i", required=True)
    s.add_argument("--output", "-o", required=True)
    s.add_argument("--mapper", "-m", required=True)
    s.add_argument("--reducer", "-r", required=True)
    s.add_argument("--nmappers", type=int, default=2)
    s.add_argument("--nreducers", type=int, default=2)
    s.add_argument("--mapper-args", nargs="*", default=[])
    s.add_argument("--reducer-args", nargs="*", default=[])
    s.set_defaults(fn=cmd_submit)

    l = sub.add_parser("list", help="list registered queries")
    l.add_argument(
        "--all",
        action="store_true",
        help="include library forms federated into registry queries",
    )
    l.set_defaults(fn=cmd_list)

    for name, fn, help_ in (
        ("start", cmd_start, "bring up a Spark session and report topology"),
        ("status", cmd_status, "report the active session"),
        ("stop", cmd_stop, "stop the active session"),
    ):
        pp = sub.add_parser(name, help=help_)
        pp.set_defaults(fn=fn)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument(
        "--sf-dir",
        # Honors the documented SPARK_GRAFT_SF_DIR env var (engine.io).
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true")
    q.set_defaults(fn=cmd_query)

    v = sub.add_parser("vstore", help="operate a versioned parquet store")
    v.add_argument(
        "action",
        choices=(
            "versions", "read", "rollback", "restore", "vacuum",
            "changes", "compact", "optimize", "history", "clone",
            "rename-column", "drop-column",
        ),
    )
    v.add_argument("store")
    v.add_argument("--version", type=int, default=None)
    v.add_argument(
        "--as-of-timestamp", type=float, default=None,
        help="read: resolve the version by commit time (epoch seconds)"
        " instead of --version",
    )
    v.add_argument(
        "--dest", default=None,
        help="clone: target store path (zero-copy hard-link clone)",
    )
    v.add_argument(
        "--old", default=None,
        help="rename-column / drop-column: the current column name",
    )
    v.add_argument(
        "--new", default=None,
        help="rename-column: the new column name (zero-copy; files"
        " keep the frozen physical name via the manifest column_map)",
    )
    v.add_argument("--keep", type=int, default=2, help="vacuum retention")
    v.add_argument(
        "--grace", type=float, default=0.0,
        help="vacuum: spare unreferenced files younger than this many"
        " seconds (in-flight writers' staged files); 0 = offline vacuum",
    )
    v.add_argument("--limit", type=int, default=20)
    v.add_argument(
        "--from-version", type=int, default=None,
        help="changes: the older version of the feed window",
    )
    v.add_argument(
        "--keys", default="source,doc_id",
        help="changes: comma-separated key columns (must include the"
        " partition column)",
    )
    v.add_argument(
        "--files-per-partition", type=int, default=1,
        help="compact: target files per partition",
    )
    v.add_argument(
        "--partial", action="store_true",
        help="compact: rewrite only partitions above the file target"
        " (O(fragmented), composes with concurrent commits)",
    )
    v.add_argument(
        "--retries", type=int, default=0,
        help="compact --partial: optimistic-concurrency retries",
    )
    v.add_argument(
        "--zorder", default=None,
        help="compact/optimize: comma-separated numeric columns to"
        " z-order by",
    )
    v.add_argument(
        "--max-files", type=int, default=8,
        help="optimize: partitions with more files than this qualify",
    )
    v.add_argument(
        "--target-file-bytes", type=int, default=128 << 20,
        help="optimize: output file size target; partitions whose"
        " median file is under half this also qualify",
    )
    v.add_argument(
        "--partitions", default=None,
        help="read: comma-separated partition values (manifest pruning)",
    )
    v.add_argument(
        "--range", action="append", default=None,
        help="read: col:lo:hi numeric range (stats pruning; empty ="
        " unbounded side), repeatable",
    )
    v.add_argument(
        "--point", action="append", default=None,
        help="read: col:value point lookup (bloom pruning), repeatable",
    )
    v.set_defaults(fn=cmd_vstore)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
