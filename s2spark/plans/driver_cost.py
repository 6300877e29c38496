"""Counters for what building or running a plan costs on the driver: the
Spark jobs a call launches and the commands it sends to the JVM."""

from __future__ import annotations

import threading
import uuid


def jobs_during(spark, fn):
    """Run fn() under a fresh job group; return its result and the number
    of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def jvm_calls_during(spark, fn):
    """Run fn(); return its result and the number of commands it sent to
    the JVM over the py4j gateway (every Column, every Dataset method,
    every attribute read is at least one).  Commands other threads send
    meanwhile, such as a finished session's listener threads, are not
    counted."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    calls = 0

    def counting(*args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == caller
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command
    return out, calls
