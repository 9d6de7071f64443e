"""Run one `blq-spark` CLI command and time its layers.

    python perfbench/cli_driver.py <timings.json> <cli args...>

Times importing `blq_cli_spark.cli`, starting the session the CLI uses,
and `cli.main(argv)`; writes them as JSON, then stops the session and
its JVM before exiting with the command's exit code.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_path, argv = sys.argv[1], sys.argv[2:]
    t0 = time.perf_counter()
    from blq_cli_spark import cli
    from blq_cli_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name="blq-spark-cli")  # the session cli._store reuses
    t2 = time.perf_counter()
    try:
        rc = cli.main(argv)
    except SystemExit as exc:  # argparse errors exit from inside main
        rc = exc.code if isinstance(exc.code, int) else 1
    t3 = time.perf_counter()
    sys.stdout.flush()
    with open(out_path, "w") as fh:
        json.dump({"cli.import_s": t1 - t0, "session.get_spark_s": t2 - t1,
                   "cli.main_s": t3 - t2, "rc": rc}, fh)
    from procs import stop_spark

    stop_spark(spark)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
