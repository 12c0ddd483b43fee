"""Benchmark entry point.

    python3 perfbench/run.py --workload serve-hybrid --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. It generates the workload's inputs
from ``--seed``, drives the ``comet_spark`` library through its public API
for ``--seconds`` of measured time, checks every output against the
oracles in ``oracle.py`` and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the library's layer
boundaries with spans, reads Spark counters per request, and reports the
per-layer metrics instead (its end-to-end figures go to stderr, so the
two runs of one seed give the tracing overhead). ``--smoke`` shrinks
every size for a quick self-test.

Every file the run writes lives under ``.perfbench_tmp/`` (removed at the
end) except the span dump of a traced run, kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# name -> unit; every workload reports every one of them:
#   setup_s             set-up before the clock starts (index build, caches)
#   ops_per_s           serve-hybrid: requests/s; ingest-live: docs ingested/s
#   op_mean_ms          mean latency; serve-hybrid: every request;
#                       ingest-live: write batch
#   text_mean_ms        mean latency; serve-hybrid: text request;
#                       ingest-live: fresh read (reopen + both text queries)
#   disk_bytes_per_doc  corpus + index bytes on disk per live doc
E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_mean_ms": "ms",
    "text_mean_ms": "ms",
    "disk_bytes_per_doc": "B",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve-hybrid", "ingest-live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the self-test")
    return ap.parse_args(argv)


def _process_env(tmp: Path) -> None:
    """Settings that keep runs steady and inside the checkout."""
    for d in ("local", "warehouse", "jvm"):
        (tmp / d).mkdir()
    # Python workers import comet_spark from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TMPDIR"] = str(tmp / "jvm")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp / 'jvm'} -XX:-UsePerfData",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "comet_spark" / "__init__.py").is_file():
        print(f"perfbench: no comet_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(ROOT))
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    tmp.mkdir(parents=True)
    import ingest
    import serve
    from common import Ctx
    from spans import JobCounters, Tracer, per_layer_metrics, self_time_table, span_points

    tracer = None
    try:
        _process_env(tmp)
        from comet_spark import session

        if args.trace:
            tracer = Tracer()
            for point in span_points():
                tracer.patch(*point)
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        try:
            ctx = Ctx(
                spark, args.seed, args.seconds, args.smoke, tmp, tracer,
                JobCounters(spark) if args.trace else None,
            )
            run = {"serve-hybrid": serve.run, "ingest-live": ingest.run}[args.workload]
            out = run(ctx)
        finally:
            _stop(spark)
    finally:
        if tracer is not None:
            tracer.restore()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:  # another run still uses it
            pass

    for line in out.notes:
        print(f"perfbench: {line}", file=sys.stderr)
    e2e = {k: {"value": out.e2e[k], "unit": u} for k, u in E2E.items()}
    if args.trace:
        print(f"perfbench: traced end-to-end {json.dumps(e2e)}", file=sys.stderr)
        out.layer_extra["session.start_s"] = start_s
        metrics = per_layer_metrics(tracer, out.plans, out.layer_extra)
        print(self_time_table(tracer.by_name()), file=sys.stderr)
        dump = ROOT / ".perfbench_out"
        dump.mkdir(exist_ok=True)
        tracer.dump(str(dump / f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = e2e
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
