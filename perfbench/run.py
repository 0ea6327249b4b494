"""spark-quadtile benchmark runner.

    python3 perfbench/run.py --workload tile_images --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One driver process, one Spark session on
``local[<cores>]``, one closed-loop client (the next operation starts only
after the previous one returns).  Every input comes from the seeded
generators in ``gen.py``; every store lives under a temporary directory
inside the checkout that is removed at exit.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  The line before it is
a readable report with the metric names of the layer map in ``README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tile_images", "osm_store"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_session(tmp: str):
    from osmquadtree_rust_spark import shipping
    from osmquadtree_rust_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    jvm_tmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jvm_tmp)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        # one shuffle partition per core, below the package default of at
        # least 8: on these small inputs an osm_store run on 4 cores took
        # 95 s against 103-113 s with 8
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # both working sets are tens of MB; a fixed 2 GB heap (initial =
            # maximum) keeps the JVM's peak RSS from following G1's lazy,
            # run-to-run different growth towards the 8 GB default
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # workers import the package from the shipped zip: the checkout is not
    # on their path when the driver's cwd differs from the package root
    shipping.ensure_shipped(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import workloads  # imports the package: fails outside a checkout

    scratch_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(scratch_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch_root)
    # package code (shipping's zip) and pyarrow temp files land here too
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    load_before = os.getloadavg()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(tmp)
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, tmp, args.seed, bool(args.trace))
        res = wl.run(args.seconds, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:  # another run's directory is still there
            pass
    res["report"]["loadavg_before"] = [round(x, 2) for x in load_before]
    res["report"]["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    print("report " + json.dumps(res["report"], sort_keys=True))
    metrics = res["e2e"] if not args.trace else res["layers"]
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
