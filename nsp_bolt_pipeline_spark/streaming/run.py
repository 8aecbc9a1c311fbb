"""The one run path of every engine stream: an ``availableNow`` run to
completion from a checkpoint.

Trigger, checkpoint and sink are one run contract (Structured
Streaming, SIGMOD'18): the query processes everything available at
start and stops, and a restart with the same checkpoint resumes
incrementally. Callers build the sink side of the writer —
``foreachBatch(fn)``, or ``format(...)`` + ``option("path", ...)``, plus
``outputMode(...)`` where it is not ``append`` — and hand it here.
"""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def run_available_now(
    writer: DataStreamWriter, checkpoint_dir: str
) -> StreamingQuery:
    """Start ``writer`` with its checkpoint at ``checkpoint_dir``, wait
    until it has drained its input, and return the terminated query."""
    query = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
