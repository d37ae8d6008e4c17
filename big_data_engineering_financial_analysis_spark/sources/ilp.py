"""InfluxDB Line Protocol TCP sink (K4) — QuestDB-compatible.

The reference ships enriched rows to QuestDB by formatting ILP text and
``sendall``-ing it over a raw TCP socket, one connection per message
(services/kafka-to-questdb/consumer.py:18-24,67-80).  The engine edition
keeps the wire format byte-identical — the ``line`` column comes from the
oracle-checked :func:`plans.analytics_ext.ilp_lines` expression — but
distributes the send: each partition opens ONE connection and streams its
rows through it, so a 1000-executor write fans out to 1000 sockets instead
of hammering one driver-side connection per row.

Batch path: :func:`write_ilp` (``foreachPartition``).  Streaming path:
:func:`ilp_stream_writer` (``foreachBatch`` reusing the same partition
sender).  Streaming delivery is at-least-once: an epoch that fails after
sending is not committed to the caller's checkpoint, so the restart
re-sends all of its lines, and QuestDB's dedup on (timestamp, symbol)
makes the replay idempotent.
"""

from __future__ import annotations

import socket
from collections.abc import Iterator

from pyspark.sql import DataFrame

DEFAULT_ILP_PORT = 9009  # QuestDB default (reference consumer.py:14)

#: Connect/send timeout.  A hung endpoint must fail the task (Spark retries
#: it) rather than block an executor thread forever on an unbounded
#: ``sendall``.
DEFAULT_TIMEOUT_S = 30.0


def send_lines(
    lines: list[str],
    host: str,
    port: int = DEFAULT_ILP_PORT,
    timeout: float = DEFAULT_TIMEOUT_S,
) -> int:
    """Send ILP lines over one TCP connection; returns bytes written.

    Reference parity: ``socket.create_connection`` + ``sendall`` of
    newline-terminated UTF-8 (consumer.py:18-24); lines already ending in
    a newline are sent as-is.  ``timeout`` bounds both connect and send.
    """
    payload = "".join(ln if ln.endswith("\n") else ln + "\n" for ln in lines)
    data = payload.encode("utf-8")
    if not data:
        return 0
    with socket.create_connection((host, port), timeout=timeout) as sock:
        sock.sendall(data)
    return len(data)


def _partition_sender(
    host: str, port: int, line_col_idx: int, timeout: float = DEFAULT_TIMEOUT_S
):
    """A pickle-able per-partition send closure (runs on executors).

    Opens at most ONE connection per partition (lazily, so empty
    partitions open none) and streams the rows through it in bounded
    chunks — a huge partition never materializes fully in memory and
    never re-pays connect/teardown per chunk.  The socket carries a
    timeout so a hung endpoint raises ``socket.timeout`` and fails the
    task (surfacing the partition + host in the error) instead of
    stalling the executor thread indefinitely; Spark's task retry is the
    retry policy.
    """

    def _send(rows: Iterator) -> None:
        sock = None
        sent = 0
        batch: list[str] = []

        def _flush(chunk: list[str]) -> int:
            nonlocal sock
            if sock is None:
                sock = socket.create_connection((host, port), timeout=timeout)
            data = "".join(chunk).encode("utf-8")
            sock.sendall(data)
            return len(data)

        try:
            for row in rows:
                ln = row[line_col_idx]
                if ln is None:
                    # fail CLEAN: a NULL line means a NULL reached the ILP
                    # formatter's inputs — sending "None" would corrupt the
                    # downstream table, and skipping would silently drop rows
                    raise ValueError(
                        "NULL ILP line value — the line column must be "
                        "non-null (check the ilp_lines expression inputs)"
                    )
                batch.append(ln if ln.endswith("\n") else ln + "\n")
                if len(batch) >= 10_000:
                    sent += _flush(batch)
                    batch = []
            if batch:
                sent += _flush(batch)
        except OSError as exc:  # timeout subclasses OSError
            raise RuntimeError(
                f"ILP send to {host}:{port} failed after {sent} bytes: {exc}"
            ) from exc
        finally:
            if sock is not None:
                sock.close()

    return _send


def write_ilp(
    df: DataFrame,
    host: str,
    port: int = DEFAULT_ILP_PORT,
    line_col: str = "line",
) -> None:
    """Write a batch frame's ILP ``line`` column to a QuestDB-style TCP
    endpoint, one connection per partition (distributed, no driver
    collect)."""
    proj = df.select(line_col)
    proj.foreachPartition(_partition_sender(host, port, 0))


def ilp_stream_writer(host: str, port: int = DEFAULT_ILP_PORT, line_col: str = "line"):
    """``foreachBatch`` function streaming micro-batches to the ILP socket.

    Usage::

        (ilp_lines(enriched_stream).writeStream
         .foreachBatch(ilp_stream_writer(host, port))
         .option("checkpointLocation", ...).start())

    Delivery is at-least-once (ILP appends are idempotent downstream when
    the designated timestamp + symbol form the dedup key, QuestDB's
    standard dedup config).
    """

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        write_ilp(batch_df, host, port, line_col)

    return _write
