"""Driver-side cost of building the validation plan.

run_validation only builds DataFrames, so its wall time is Py4J round
trips plus the JVM's eager analysis of every DataFrame it creates.
This test counts both for one warm build (the second in the process)
on the shared fixture and bounds them. It fails if PySpark's per-call
origin capture comes back on (spark.python.sql.dataFrameDebugging,
switched off in session.build_session: ~2.5x the commands) or if the
messages go back to one DataFrame chain per label source.
"""

from __future__ import annotations

import gc
import threading

import py4j.clientserver
from pyspark.errors import utils as error_utils
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from data_validator_spark.plans import ValidationConfig, run_validation

# Measured on this fixture: 1,668 commands and 72 DataFrames; the
# per-label append plan with origin capture on sent 6,706 and built
# 182. The bounds leave ~20% headroom.
MAX_COMMANDS = 2_000
MAX_DATAFRAMES = 86


def _count_build(clips, transcripts_ref):
    main = threading.current_thread()
    send = py4j.clientserver.ClientServerConnection.send_command
    init = ClassicDataFrame.__init__
    n = {"commands": 0, "dataframes": 0}

    def counting_send(self, command):
        # the py4j finalizer thread's object releases are asynchronous
        # and not part of the build
        if threading.current_thread() is main:
            n["commands"] += 1
        return send(self, command)

    def counting_init(self, *args, **kwargs):
        n["dataframes"] += 1
        return init(self, *args, **kwargs)

    gc.disable()
    py4j.clientserver.ClientServerConnection.send_command = counting_send
    ClassicDataFrame.__init__ = counting_init
    try:
        res = run_validation(clips, transcripts_ref, cfg=ValidationConfig(persist=True))
    finally:
        py4j.clientserver.ClientServerConnection.send_command = send
        ClassicDataFrame.__init__ = init
        gc.enable()
    res.unpersist()
    return n


def test_run_validation_plan_build_budget(spark, clips, transcripts_ref):
    # PySpark caches the origin-capture setting on first use in the
    # process; re-read it from this session's conf
    error_utils._enable_debugging_cache = None
    _count_build(clips, transcripts_ref)
    n = _count_build(clips, transcripts_ref)
    assert n["commands"] <= MAX_COMMANDS, n
    assert n["dataframes"] <= MAX_DATAFRAMES, n
