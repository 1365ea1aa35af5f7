"""One fresh benchmark process (Python interpreter + Spark JVM).

    python3 perfbench/worker.py CONFIG.json

``run.py`` writes the config and reads the result file this process
writes. The process starts Spark the way the CLI does and times that as
``setup_s``; then it runs one mode of jobs.py:

* ``measure``: run the CLI job in-process once cold, once to warm up, and
  then warm for the window (at least ``MIN_WARM`` times), checking each
  job's outputs; read Spark's counters after each job.
* ``trace``: as ``measure``, but the warm jobs alternate untraced and
  traced, followed by single-layer probe jobs; reports the per-layer
  metrics.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def main(cfg_path: str) -> int:
    cfg = json.loads(Path(cfg_path).read_text())
    # what the CLI imports before it builds its session (run.py puts the
    # checkout on PYTHONPATH)
    import json_to_avro_schema_spark.__main__  # noqa: F401
    from json_to_avro_schema_spark.session import get_spark

    spark = get_spark(app="validate:DocumentsIV", cpus=cfg["cpus"])
    setup_s = time.time() - cfg["spawn_epoch"]
    spark.sparkContext.setLogLevel("ERROR")
    try:
        import jobs  # the benchmark's own tools, after set-up is timed

        out = jobs.MODES[cfg["mode"]](spark, cfg)
        out["setup_s"] = setup_s
        out["versions"] = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        Path(cfg["result"]).write_text(json.dumps(out))
    finally:
        _stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
