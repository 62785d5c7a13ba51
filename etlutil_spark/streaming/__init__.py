"""Structured Streaming operators and foreachBatch sinks."""

from __future__ import annotations


def drain(writer, timeout_s: float, what: str):
    """Start ``writer`` (a configured ``DataStreamWriter``) with the
    availableNow trigger and wait until the available data is processed;
    returns the finished query. Raises TimeoutError, with the query
    stopped, when it is still running after ``timeout_s``: returning
    would hand the caller state that in-flight micro-batches are still
    changing. Every availableNow driver in this package drains here."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{what} did not drain within {timeout_s}s; query stopped, "
            "its state covers only completed batches"
        )
    return q
