"""Engine error types mirroring the reference's ErrorCode surface.

The reference threads an ``IAbortOperation*`` (one method: ``ShouldAbort()``,
`inc/Core/VectorIndex.h:22-26`) through its long-running build/refine
operations and bails out between phases with ``ErrorCode::ExternalAbort``
(`inc/Core/DefinitionList.h:66`; checks e.g. `BKTIndex.cpp:855,861`,
`Common/BKTree.h:347,384,490`). The Spark analog is a ``should_abort``
callable checked between driver-side phases / iterations; the abort
RAISES rather than returning a code (idiomatic Python), and because every
structure swap here is an atomic reference assignment, an aborted
rebuild/refine leaves the previous index fully intact — strictly stronger
than the reference's partially-written-streams contract.
"""

from __future__ import annotations

from collections.abc import Callable


class ExternalAbortError(RuntimeError):
    """Raised when a caller-supplied should_abort() hook returns True
    between phases of a long-running build/refine (ErrorCode::ExternalAbort
    parity)."""


def check_abort(should_abort: Callable[[], bool] | None) -> None:
    """The between-phases check: no-op when no hook is installed."""
    if should_abort is not None and should_abort():
        raise ExternalAbortError("aborted by should_abort() hook")


class StoreFormatError(ValueError):
    """Raised when a packed serve store's meta.json names a layout
    ``format`` this code does not read (a store written by a newer or
    foreign writer): refusing beats misreading its extents."""
