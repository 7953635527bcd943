"""Build-once materialization for deterministic setup relations.

Two kinds of relation are setup cost, not the workload a query measures:

* **Stand-ins** for relations a real deployment gets from an external
  system — Kafka topics of Avro messages (``streaming/decode.py``), OCF
  directories written by a producer (``sources/ocf_datasource.py``), the
  persisted IVF cells (``operators/similarity.py``).  In this
  connector-less sandbox they are *generated* from the parquet test
  tables, and that generation (an encode pandas UDF, an OCF write) is
  cost a real consumer never pays: a Kafka consumer reads bytes that
  already exist.
* **Demo tables**: the multi-commit manifest tables the registered
  ``q_table_*``, table-feed and takedown queries probe (an as-of history,
  a merge, a positional delete, a Z-order compaction, …).  Their commit
  history is the fixture; the query times the read of it.

VERDICT r4 flagged the conflation — ``q_stream_decode``'s bench number
timed the stand-in *encode* as well as the consumption pipeline under
measurement.  This module separates the two: a relation is built ONCE
per (key, sf_dir) per process and re-read from disk afterwards, so
steady-state invocations (bench passes 2+, repeated parity runs) time
only consumption.  Build time is recorded in ``SETUP_SECONDS`` for the
bench harness to report separately.

The memo is process-local and keyed by (key, sf_dir): the builders are
deterministic functions of the sf_dir tables, so a re-read is
observationally identical to a rebuild.  That leaves one way to go
stale — the directory vanishing under the process — so a hit whose path
no longer exists is dropped and rebuilt at a fresh path.  Every relation
lives under one ``anglerfish_standin_*`` root that is removed at
interpreter exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
from typing import Callable

_ROOT: str | None = None
_DONE: dict[tuple[str, str], str] = {}

#: key -> seconds spent building (every build, summed); bench.py reports
#: this as "setup_sec" so generation cost is visible but not conflated
SETUP_SECONDS: dict[str, float] = {}


def materialize_once(key: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Return a directory path holding the relation for ``key`` at
    ``sf_dir``, calling ``build(path)`` to create it on first use or
    when the memoized path has disappeared.  ``path`` does not exist
    when ``build`` is called; a ``build`` that raises records nothing."""
    global _ROOT
    ck = (key, sf_dir)
    path = _DONE.get(ck)
    if path is not None and os.path.exists(path):
        return path
    if _ROOT is None or not os.path.isdir(_ROOT):
        _ROOT = tempfile.mkdtemp(prefix="anglerfish_standin_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    path = tempfile.mkdtemp(dir=_ROOT) + "/" + key
    t0 = time.perf_counter()
    build(path)
    SETUP_SECONDS[key] = round(
        SETUP_SECONDS.get(key, 0.0) + time.perf_counter() - t0, 3
    )
    _DONE[ck] = path
    return path
