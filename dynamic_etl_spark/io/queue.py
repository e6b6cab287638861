"""Exactly-once batch file queue (SURVEY.md §2.1 S8, §2.9 U6).

The reference's ledger: an append-only ``processed_files.log`` consulted
to pick the OLDEST unprocessed ``prefix*`` entry, marked only AFTER the
merge commits (scripts2/load_fact_sales_dw.py:26-35,65-77,425). This is
the batch-mode twin of streaming/incremental.py (where the checkpoint
file-log is the ledger); it exists because the reference's skip/retry
policies (U6) are per-file decisions a streaming source can't express:

- SkipRetry  — transient precondition (empty dims, zero key matches, no
  rows surviving cleanse): exit cleanly WITHOUT marking, so the next run
  retries the same file (load_fact_sales_dw.py:156-175,263-277,288-297).
- PoisonPill — structural defect (missing columns): mark processed THEN
  error, so the bad file can never wedge the queue
  (load_fact_sales_dw.py:204-210).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import datetime, timezone


class SkipRetry(Exception):
    """Transient condition: leave the file unprocessed and stop cleanly."""


#: Result marker for a SkipRetry outcome: the returned filename was seen
#: but deliberately left queued. Distinguishes "file present but deferred"
#: from "nothing pending" ((None, None)) so schedulers can count
#: consecutive retries of the same file and alert on a wedged feed.
SKIPPED = object()


class PoisonPill(Exception):
    """Structural defect: mark the file processed, then surface the error."""


class FileQueue:
    def __init__(
        self,
        incoming_dir: str,
        ledger_path: str,
        prefix: str,
    ) -> None:
        if not os.path.isdir(incoming_dir):
            raise RuntimeError(f"Incoming directory not found: {incoming_dir}")
        self.incoming_dir = incoming_dir
        self.ledger_path = ledger_path
        self.prefix = prefix

    # -- ledger ------------------------------------------------------------
    def processed(self) -> set[str]:
        if not os.path.exists(self.ledger_path):
            return set()
        with open(self.ledger_path) as f:
            return {line.split("|", 1)[0] for line in f.read().splitlines() if line}

    def mark_processed(self, filename: str) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(self.ledger_path)), exist_ok=True)
        stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        with open(self.ledger_path, "a") as f:
            f.write(f"{filename}|{stamp}\n")

    # -- selection ---------------------------------------------------------
    def pending(self) -> list[str]:
        """Oldest-first unprocessed files (lexicographic = chronological
        for timestamped names)."""
        done = self.processed()
        names = sorted(f for f in os.listdir(self.incoming_dir) if f.startswith(self.prefix))
        return [f for f in names if f not in done]

    def next_unprocessed(self) -> str | None:
        queue = self.pending()
        return queue[0] if queue else None

    # -- processing policy (U6) --------------------------------------------
    def process_next(self, fn: Callable[[str], object]) -> tuple[str | None, object | None]:
        """Run ``fn(path)`` on the oldest unprocessed file with the
        reference's commit ordering: mark AFTER fn succeeds (a crash
        mid-fn leaves the file queued — at-least-once with idempotent
        merges = exactly-once effect).

        Returns (filename, result); (None, None) when the queue is empty;
        (filename, SKIPPED) when a SkipRetry deferred the file — the name
        is surfaced so callers can log/alert on repeated deferrals.
        """
        name = self.next_unprocessed()
        if name is None:
            return None, None
        path = os.path.join(self.incoming_dir, name)
        try:
            result = fn(path)
        except SkipRetry:
            return name, SKIPPED
        except PoisonPill:
            self.mark_processed(name)
            raise
        self.mark_processed(name)
        return name, result
