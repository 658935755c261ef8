"""Exception taxonomy with process exit codes.

Mirrors the reference's error contract
(common/src/main/scala/com/astrolabsoftware/grafink/models/GrafinkException.scala:19-54):
each failure class maps to a stable exit code so batch schedulers can
distinguish "no input partitions" from "bad rule expression" etc.
"""

from __future__ import annotations


class GrafinkException(Exception):
    """Base class; exit code 1 (GrafinkException.scala:19)."""

    exit_code = 1


class BadArgumentsException(GrafinkException):
    """CLI arguments invalid; exit code 2."""

    exit_code = 2


class GetIdException(GrafinkException):
    """ID manager failed to produce an id; exit code 3."""

    exit_code = 3


class BadSimilarityExpression(GrafinkException):
    """Similarity rule expression failed to parse; exit code 4
    (GrafinkException.scala:28,44,52)."""

    exit_code = 4


class MissingFixedVertex(GrafinkException):
    """A two-mode recipe has no fixed vertex in the CSV; exit code 5
    (TwoModeClassifier requires every recipe to resolve)."""

    exit_code = 5


class ConvergenceException(GrafinkException):
    """An iterative algorithm (connected components) hit its round cap
    without reaching a fixpoint; exit code 1 (no reference analogue —
    the reference has no iterative operators)."""


class NoDataException(GrafinkException):
    """None of the requested partitions exist; exit code 9
    (GrafinkException.scala:24,43,53 — fail-fast read semantics)."""

    exit_code = 9


def exit_code_for(exc: BaseException) -> int:
    """Map any exception to its process exit code (Job.scala:139-153)."""
    if isinstance(exc, GrafinkException):
        return exc.exit_code
    return 1
