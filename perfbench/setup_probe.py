"""One fresh-process set-up: import the package, start ``get_spark``,
print the seconds that took, then stop the session and its JVM.

``run.py`` runs this a few times before its own set-up and reports the
median of all of them as ``setup_s``. It inherits ``run.py``'s Spark
environment (``PYSPARK_SUBMIT_ARGS``, scratch dirs).
"""

from __future__ import annotations

import os
import sys
import time

if __name__ == "__main__":
    t0 = time.perf_counter()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [os.path.dirname(here), here]
    from etl_challenge_localiza_spark.session import get_spark

    spark = get_spark(app_name="perfbench-setup-probe")
    setup_s = time.perf_counter() - t0
    from run import stop_spark

    stop_spark(spark)
    print(setup_s, flush=True)
