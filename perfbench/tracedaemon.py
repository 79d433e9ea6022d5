"""PySpark's Python daemon with the codec-tier spans installed.

Set as ``spark.python.daemon.module`` for a traced ``media_decode``
run. The decoders are wrapped before any worker forks from the daemon,
so the decode stages pick the wrappers up when they unpickle.
``PERFBENCH_SPAN_DIR`` names the span directory.
"""

import os

from pyspark import daemon

from perfbench.trace import install_codec

if __name__ == "__main__":
    install_codec(os.environ["PERFBENCH_SPAN_DIR"])
    daemon.manager()
