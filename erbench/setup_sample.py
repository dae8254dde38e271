"""One set-up sample: start, set up as run.py does, print the seconds, exit.

    python3 erbench/setup_sample.py <scratch directory>

run.py starts this ``SETUP_SAMPLES - 1`` times alongside its own set-up,
from the root of the checkout, and reports the median of all samples as
``setup_s``. A sample runs from process start to a warm session: the same
imports, the JVM and session from ``get_spark``, and the warm-up.
"""

import time

T_PROCESS = time.perf_counter()

import sys  # noqa: E402

import run  # noqa: E402


def main() -> int:
    tmp = sys.argv[1]
    run.prepare_environment(tmp)
    import report  # noqa: F401  (the imports run.py makes before set-up)
    import workloads  # noqa: F401

    spark = run.start_session(tmp, trace=False)
    try:
        run.warm_up(spark)
        seconds = time.perf_counter() - T_PROCESS
    finally:
        run.stop_session(spark)
    print(seconds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
