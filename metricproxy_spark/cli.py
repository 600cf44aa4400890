"""Command-line front door: run any registered query from a shell.

    python -m metricproxy_spark list
    python -m metricproxy_spark run <query> [--sf-dir DIR] [--limit N]
                                   [--out PATH] [--explain]
    python -m metricproxy_spark serve --config CONFIG.json
                                   [--checkpoint DIR] [--drain]
                                   [--interval-seconds N]

`run` prints the result as a table (or writes parquet with --out);
`--explain` prints the formatted physical plan instead of executing —
the same plan-reading loop the repo's scale reviews use. The Spark
session is the package factory (AQE on, sized shuffle partitions).

`serve` is the daemon parity mode: it loads a reference-shaped
ProxyConfig JSON (ListenFrom × ForwardTo), starts any configured live
HTTP listeners, and runs the pipeline — `--drain` processes everything
currently available then exits (the SIGTERM drain path, and what tests
use); otherwise it micro-batches on a processing-time trigger until
interrupted, printing the counter snapshot on shutdown.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="metricproxy_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered queries")
    runp = sub.add_parser("run", help="run one registered query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default=None)
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--out", default=None, help="write parquet here")
    runp.add_argument("--explain", action="store_true")
    runp.add_argument("--master", default="local[*]")
    servep = sub.add_parser(
        "serve", help="run a ProxyConfig pipeline (daemon parity)"
    )
    servep.add_argument("--config", required=True, help="ProxyConfig JSON")
    servep.add_argument("--checkpoint", default=None)
    servep.add_argument(
        "--drain",
        action="store_true",
        help="process everything available, print counters, exit",
    )
    servep.add_argument(
        "--interval-seconds",
        type=float,
        default=5.0,
        help="processing-time trigger for continuous mode",
    )
    servep.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)

    if args.cmd == "serve":
        return _serve(args)

    from metricproxy_spark.registry import ORACLES, QUERIES, load_all

    load_all()
    if args.cmd == "list":
        for name in QUERIES:
            kind = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    if args.query not in QUERIES:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2

    from metricproxy_spark.io import DEFAULT_SF_DIR
    from metricproxy_spark.session import get_spark

    sf_dir = args.sf_dir or DEFAULT_SF_DIR
    spark = get_spark(master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.query](spark, sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _serve(args) -> int:
    """Daemon parity: config → live listeners → running pipeline."""
    import json
    import tempfile

    from metricproxy_spark.plans import build_pipeline
    from metricproxy_spark.session import get_spark

    spark = get_spark(master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    pipe = build_pipeline(spark, args.config)
    for lis in pipe.live_listeners:
        print(f"listening on {lis.url}", flush=True)
    ckpt = args.checkpoint or tempfile.mkdtemp(prefix="mps_serve_ckpt_")
    try:
        if args.drain:
            stats = pipe.run_available_now(ckpt)
            print(json.dumps(stats, sort_keys=True), flush=True)
            return 0
        import signal
        import threading

        stop_evt = threading.Event()
        for signum in (signal.SIGINT, signal.SIGTERM):
            signal.signal(signum, lambda *_a: stop_evt.set())
        queries = pipe.start(
            ckpt,
            available_now=False,
            processing_time=f"{args.interval_seconds} seconds",
        )
        # py4j's awaitTermination blocks signals from interrupting
        # cleanly — poll instead so SIGINT/SIGTERM drain gracefully.
        while not stop_evt.is_set() and any(q.isActive for q in queries):
            stop_evt.wait(0.5)
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination()
        print(json.dumps(dict(pipe.stats), sort_keys=True), flush=True)
        return 0
    finally:
        pipe.close_listeners()


if __name__ == "__main__":
    raise SystemExit(main())
