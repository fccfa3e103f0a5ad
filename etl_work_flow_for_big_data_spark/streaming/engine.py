"""Streaming control plane + supervision — the G3/G4/G5 analog.

The reference runs a control-queue listener dispatching
``startsession`` / ``stopsession`` / ``restartsession`` (session id 0
= broadcast to all, ``/root/reference/MFramework.cpp:1687-1756``) and
a monitor loop that restarts dead sessions every second
(``MFramework.cpp:1931-1970``). Here a *pipeline* is a named builder
that, given a SparkSession, returns a started ``StreamingQuery``; the
manager provides the same control verbs with the same semantics:

- idempotent start (already-running start is a no-op, mirroring
  ``m_HandleControlStart``'s existing-session check, :1782-1787);
- name=None (the id-0 analog) broadcasts stop/restart to all;
- a supervisor pass (``check_once``) restarts any
  registered-but-dead pipeline; callers run it on their own cadence
  (the reference's monitor loop ticks every second).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from etl_work_flow_for_big_data_spark.functions.packets import wire_entries

QueryBuilder = Callable[[SparkSession], StreamingQuery]

ACTION_START = "startsession"
ACTION_STOP = "stopsession"
ACTION_RESTART = "restartsession"


@dataclass
class _Registered:
    builder: QueryBuilder
    query: StreamingQuery | None = None
    desired_running: bool = False
    restarts: int = field(default=0)


class PipelineManager:
    """Start/stop/restart/supervise named streaming pipelines."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._pipelines: dict[str, _Registered] = {}
        self._lock = threading.RLock()

    def register(self, name: str, builder: QueryBuilder) -> None:
        with self._lock:
            if name in self._pipelines:
                raise ValueError(f"pipeline already registered: {name}")
            self._pipelines[name] = _Registered(builder=builder)

    def _get(self, name: str) -> _Registered:
        try:
            return self._pipelines[name]
        except KeyError:
            raise KeyError(
                f"unknown pipeline {name!r}; registered: {sorted(self._pipelines)}"
            ) from None

    # -- control verbs (G5) -------------------------------------------
    def start(self, name: str) -> bool:
        """Start a pipeline; no-op if already running (idempotent start,
        MFramework.cpp:1782-1787). Returns True if a start happened."""
        with self._lock:
            reg = self._get(name)
            if reg.query is not None and reg.query.isActive:
                # still record intent: a restart whose old query outlived
                # the stop timeout must stay supervised (the monitor
                # restarts it when the straggler finally dies)
                reg.desired_running = True
                return False
            reg.query = reg.builder(self._spark)
            reg.desired_running = True
            return True

    def stop(self, name: str | None = None) -> list[str]:
        """Stop one pipeline, or all when name is None (the id-0
        broadcast, MFramework.cpp:1693-1726). Graceful: signals stop
        then awaits termination (G3)."""
        names = [name] if name is not None else sorted(self._pipelines)
        stopped = []
        for n in names:
            with self._lock:
                reg = self._get(n)
                reg.desired_running = False
                q = reg.query
            if q is not None and q.isActive:
                q.stop()
                q.awaitTermination(30)
                stopped.append(n)
        return stopped

    def restart(self, name: str | None = None) -> list[str]:
        """stop + start (MFramework.cpp:1750-1754); broadcast on None."""
        names = [name] if name is not None else sorted(self._pipelines)
        for n in names:
            self.stop(n)
            self.start(n)
        return names

    def control(self, action: str, name: str | None = None) -> None:
        """Dispatch a control packet's action string ('a' key,
        MFramework.cpp:1677-1754). name=None == session id 0."""
        if action == ACTION_START:
            if name is None:
                for n in sorted(self._pipelines):
                    self.start(n)
            else:
                self.start(name)
        elif action == ACTION_STOP:
            self.stop(name)
        elif action == ACTION_RESTART:
            self.restart(name)
        else:
            raise ValueError(
                f"unknown control action {action!r}; expected "
                f"{ACTION_START}/{ACTION_STOP}/{ACTION_RESTART}"
            )

    # -- wire-packet control dispatch (the control thread itself) ------
    def dispatch_control_packet(
        self, payload: str, id_to_name: dict[int, str]
    ) -> str:
        """Consume one raw control wire packet exactly like the
        reference's control thread (MFramework.cpp:1660-1756): read
        the ``s=<session id>`` / ``a=<action>`` entries with the data
        path's parser (``wire_entries``: terminated entries only, the
        last of a repeated key wins), then dispatch. Reference quirks
        kept faithfully:

        - ``startsession`` does NOT honor the id-0 broadcast (only
          stop/restart do; start with an unknown/0 id is logged and
          ignored — :1685-1689 vs :1693-1722);
        - an unknown session id is logged and ignored, never an error
          (:1739-1742);
        - a trailing non-terminated segment is dropped, and an ``s``
          that is not an integer makes the packet invalid.

        Returns a short status string ('dispatched', 'invalid-id',
        'invalid-packet') for observability; the reference only logs.
        """
        entries = dict(wire_entries(payload))
        action = entries.get("a")
        try:
            sid = int(entries["s"])
        except (KeyError, ValueError):
            return "invalid-packet"
        if action not in (ACTION_START, ACTION_STOP, ACTION_RESTART):
            return "invalid-packet"
        if sid == 0 and action != ACTION_START:
            self.control(action, None)
            return "dispatched"
        name = id_to_name.get(sid)
        if name is None or name not in self._pipelines:
            return "invalid-id"
        self.control(action, name)
        return "dispatched"

    # -- supervision (G4) ----------------------------------------------
    def check_once(self) -> list[str]:
        """One monitor pass: restart every pipeline that should be
        running but whose query died (MFramework.cpp:1952-1964).
        Returns the names restarted."""
        restarted = []
        with self._lock:
            items = list(self._pipelines.items())
        for name, reg in items:
            if reg.desired_running and (reg.query is None or not reg.query.isActive):
                with self._lock:
                    # re-check under the lock: a concurrent stop() (or a
                    # racing restart) between the unlocked scan and here
                    # must not be overridden by a stale decision.
                    if not reg.desired_running or (
                        reg.query is not None and reg.query.isActive
                    ):
                        continue
                    reg.query = reg.builder(self._spark)
                    reg.restarts += 1
                restarted.append(name)
        return restarted

    # -- introspection ---------------------------------------------------
    def status(self) -> dict[str, dict]:
        with self._lock:
            return {
                n: {
                    "active": bool(r.query is not None and r.query.isActive),
                    "desired_running": r.desired_running,
                    "restarts": r.restarts,
                }
                for n, r in self._pipelines.items()
            }
