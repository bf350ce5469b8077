"""Counting helpers shared by the tests: Spark jobs a call starts and py4j
commands it sends."""

from __future__ import annotations

import gc
import threading
import uuid

from py4j.clientserver import ClientServerConnection


def jobs_run(spark, fn, ungrouped: bool = False) -> int:
    """Spark jobs started by ``fn`` on this thread, counted through a job
    group of its own. The group name is unique per call: the id of a freed
    lambda is reused by later ones, and a reused name would count an
    earlier call's jobs too. ``ungrouped=True`` also counts jobs started
    outside any group meanwhile (reads on pool threads)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = f"counted-{uuid.uuid4().hex}"
    before = set(st.getJobIdsForGroup(None)) if ungrouped else set()
    sc.setJobGroup(group, "counted jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = len(st.getJobIdsForGroup(group))
    if ungrouped:
        n += len(set(st.getJobIdsForGroup(None)) - before)
    return n


def py4j_calls(monkeypatch, fn) -> int:
    """py4j commands the calling thread sends while ``fn`` runs. GC is off
    so no finalizer's detach command lands in the count."""
    calls = [0]
    send = ClientServerConnection.send_command
    me = threading.current_thread()

    def counting(self, command, *a, **k):
        if threading.current_thread() is me:
            calls[0] += 1
        return send(self, command, *a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", counting)
        gc.disable()
        try:
            fn()
        finally:
            gc.enable()
    return calls[0]
