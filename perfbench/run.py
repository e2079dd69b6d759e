"""Seeded end-to-end and per-layer benchmark of xml_to_es_spark.

    python3 perfbench/run.py --workload search --seed 1 --seconds 6 --trace 0

Run it from the repository root (or any checkout holding
``xml_to_es_spark/`` next to ``perfbench/``). It generates its corpus
and queries from ``--seed``, sets up (session, extract, index build,
engine open, warm-up), runs the workload's closed loop for
``--seconds``, checks every answer outside the timed region, and
prints one JSON object as its last stdout line: the ``end_to_end``
metrics of ``BENCHMARK.json`` with ``--trace 0``, its ``per_layer``
metrics with ``--trace 1``. The traced run also writes its spans to
``.perfbench/traces/``. Scratch files (the index, Spark local dirs,
temp files) live under ``.perfbench/run-<pid>/`` and are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_DOCS = 1500


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "msearch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                   help="corpus size; smaller than the default only for the smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "xml_to_es_spark")):
        print(f"perfbench: no xml_to_es_spark/ package in {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still unwinds: the session stops, scratch goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    # every temp file of this process, the JVM and the Python workers
    # lands inside the checkout; set before anything imports tempfile
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    # set-up warms the session itself, with a full build of the corpus
    # and each of the loop's operations; the package's warm-start (a
    # 2-doc build and 1-row queries) would add about 24 s a run on a
    # 4-vCPU host for about 8 s it saves the first build
    os.environ["SPARK_GRAFT_WARM_START"] = "0"
    sys.path.insert(0, ROOT)
    try:
        from perfbench.harness import run

        lines, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
