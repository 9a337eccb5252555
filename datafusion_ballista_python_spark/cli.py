"""``ballista-cli`` parity shim (reference ``docs/source/user-guide/cli.md``).

A SQL shell over :class:`BallistaContext`: reads ';'-terminated statements
from a file (``-f``), a one-shot command (``-c``), or an interactive REPL,
and prints result tables.  The reference CLI's standalone example —
``CREATE EXTERNAL TABLE ... STORED AS ...; SELECT ...`` — runs unchanged
because the context implements that DDL (context.py).

Usage::

    python -m datafusion_ballista_python_spark.cli \
        -c "SELECT 1 AS a, 2 AS b;"
"""

from __future__ import annotations

import argparse
import sys
from typing import Iterable, Optional

PROMPT = "ballista> "
CONT_PROMPT = "       -> "


def _split_statements(text: str, with_tail: bool = False):
    """Split on ';' outside single-quoted strings; drop '--' comments.

    ``with_tail=True`` returns ``(complete_statements, unterminated_tail)``
    — the REPL form: only ';'-terminated statements execute, the tail stays
    in the buffer for the continuation prompt.  The default appends the
    tail as a final statement (script/-c form, where trailing text runs)."""
    out: list[str] = []
    cur: list[str] = []
    in_str = False
    i = 0
    while i < len(text):
        ch = text[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "-" and text[i : i + 2] == "--":
            nl = text.find("\n", i)
            i = len(text) if nl < 0 else nl
            continue
        elif ch == ";":
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(ch)
        i += 1
    raw_tail = "".join(cur)
    tail = raw_tail.strip()
    if with_tail:
        # raw (unstripped) tail: a string literal continuing on the next
        # line must keep its internal newlines when the buffer re-scans
        return out, (raw_tail if tail else "")
    if tail:
        out.append(tail)
    return out


def _execute(ctx, stmt: str, num_rows: int) -> None:
    df = ctx.sql(stmt)
    head = stmt.lstrip().split(None, 1)[0].lower() if stmt.strip() else ""
    if head in ("create", "drop", "set") or not df.df.columns:
        # DDL/commands ack like the reference CLI, no table dump
        print("OK")
        return
    df.df.show(num_rows, truncate=False)


def _repl(ctx, num_rows: int, lines: Iterable[str]) -> None:
    buf: list[str] = []
    sys.stdout.write(PROMPT)
    sys.stdout.flush()
    for line in lines:
        if not buf and line.strip().lower() in ("quit", "exit", r"\q"):
            break
        buf.append(line)
        # quote-aware: only COMPLETE (';'-terminated, outside strings)
        # statements execute; an unterminated tail — a quoted string or a
        # clause continuing on the next line — stays buffered under the
        # continuation prompt (the old `';' in line` flush executed
        # incomplete fragments and split inside string literals)
        stmts, tail = _split_statements("".join(buf), with_tail=True)
        buf = [tail] if tail else []
        for stmt in stmts:
            try:
                _execute(ctx, stmt, num_rows)
            except Exception as e:  # keep the shell alive on bad SQL
                print(f"Error: {e}", file=sys.stderr)
        sys.stdout.write(PROMPT if not buf else CONT_PROMPT)
        sys.stdout.flush()
    print()


def main(argv: Optional[list[str]] = None, ctx=None) -> int:
    p = argparse.ArgumentParser(
        prog="ballista-cli",
        description="SQL shell with ballista-cli surface (reference cli.md)",
    )
    p.add_argument(
        "--master", default=None, help="Spark master (default local[<cpus>])"
    )
    p.add_argument("--shuffle-partitions", type=int, default=16)
    p.add_argument("--batch-size", type=int, default=8192)
    p.add_argument("-n", "--num-rows", type=int, default=100, help="rows to print")
    p.add_argument("-f", "--file", help="run a ';'-separated SQL script and exit")
    p.add_argument("-c", "--command", help="run the given SQL and exit")
    p.add_argument(
        "--flightsql-port",
        type=int,
        default=None,
        help="also serve Arrow Flight SQL on this port (0 = ephemeral)",
    )
    p.add_argument(
        "--metrics-port",
        type=int,
        default=None,
        help="also serve the scheduler REST/metrics API on this port (0 = ephemeral)",
    )
    args = p.parse_args(argv)

    if ctx is None:
        from .context import BallistaContext

        ctx = BallistaContext(
            master=args.master,
            shuffle_partitions=args.shuffle_partitions,
            batch_size=args.batch_size,
        )

    if args.flightsql_port is not None:
        server = ctx.start_flightsql_endpoint(port=args.flightsql_port)
        print(f"FlightSQL endpoint: grpc://127.0.0.1:{server.port}")
    if args.metrics_port is not None:
        from .metrics import start_scheduler_api

        api = start_scheduler_api(ctx.spark, port=args.metrics_port)
        print(f"Scheduler API: http://127.0.0.1:{api.port}/api/metrics")

    if args.command is not None:
        for stmt in _split_statements(args.command):
            _execute(ctx, stmt, args.num_rows)
        return 0
    if args.file is not None:
        with open(args.file) as fh:
            text = fh.read()
        for stmt in _split_statements(text):
            _execute(ctx, stmt, args.num_rows)
        return 0
    _repl(ctx, args.num_rows, sys.stdin)
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
