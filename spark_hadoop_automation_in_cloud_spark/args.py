"""Validated job-argument model (reference ``src/keeper/keeper.py:61-120``:
ArgsKeeper with pydantic validators for date shape, depth cap, path shape,
processed_dttm format).

Same contract without the pydantic dependency: a frozen dataclass whose
``__post_init__`` raises ``ValueError`` with the same classes of message.
"""

from __future__ import annotations

import datetime as dt
import re
import warnings
from dataclasses import dataclass

MAX_DEPTH = 150
WARN_DEPTH = 100
_DTTM_RE = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}")


@dataclass(frozen=True)
class JobArgs:
    """Arguments of one datamart run: an incremental window of ``depth``
    days ending at ``date``, read from ``src_path``, written under
    ``tgt_path``, stamped ``processed_dttm``."""

    date: str  # yyyy-MM-dd
    depth: int
    src_path: str
    tgt_path: str
    coords_path: str | None = None
    processed_dttm: str | None = None  # yyyy-MM-ddTHH:mm:ss

    def __post_init__(self) -> None:
        try:
            d = dt.date.fromisoformat(self.date)
        except ValueError as exc:
            raise ValueError(f"date must be yyyy-MM-dd, got {self.date!r}") from exc
        if d > dt.date.today():
            raise ValueError(f"date {self.date} is in the future")
        if not 1 <= self.depth <= MAX_DEPTH:
            raise ValueError(f"depth must be in [1, {MAX_DEPTH}], got {self.depth}")
        if self.depth > WARN_DEPTH:
            warnings.warn(
                f"depth {self.depth} > {WARN_DEPTH} days — large reprocessing window",
                stacklevel=2,
            )
        for name in ("src_path", "tgt_path"):
            v = getattr(self, name)
            if not re.match(r"^(s3a?://|file:/|/|\./)", v):
                raise ValueError(f"{name} must be an s3a://, file:/ or local path, got {v!r}")
        if self.processed_dttm is not None and not _DTTM_RE.fullmatch(self.processed_dttm):
            raise ValueError(
                f"processed_dttm must be yyyy-MM-ddTHH:mm:ss, got {self.processed_dttm!r}"
            )

    @property
    def window_start(self) -> dt.date:
        return dt.date.fromisoformat(self.date) - dt.timedelta(days=self.depth - 1)

    @classmethod
    def from_argv(cls, argv: list[str]) -> "JobArgs":
        """CLI contract parity (``jobs/*.py:28-35`` argv order:
        date depth src tgt [coords] [processed_dttm])."""
        if len(argv) < 4:
            raise ValueError(
                "usage: <job> date depth src_path tgt_path [coords_path] [processed_dttm]"
            )
        return cls(
            date=argv[0],
            depth=int(argv[1]),
            src_path=argv[2],
            tgt_path=argv[3],
            coords_path=argv[4] if len(argv) > 4 else None,
            processed_dttm=argv[5] if len(argv) > 5 else None,
        )


@dataclass(frozen=True)
class StreamArgs:
    """Arguments of one streaming CLI run (``jobs/incremental_*_job.py``,
    ``jobs/streaming_*_job.py``): drain ``src`` into the state at ``out``,
    resuming from ``checkpoint``; ``max_files_per_trigger`` bounds each
    micro-batch (None = the source's default)."""

    src: str
    out: str
    checkpoint: str
    max_files_per_trigger: int | None = None

    @classmethod
    def from_argv(cls, argv: list[str]) -> "StreamArgs":
        """``<src> <out> <checkpoint> [max_files_per_trigger]``; raises
        ``ValueError`` on any other shape (the job prints its usage and
        exits 2)."""
        if not 3 <= len(argv) <= 4:
            raise ValueError("usage: <job> src out checkpoint [max_files_per_trigger]")
        n = int(argv[3]) if len(argv) == 4 else None
        if n is not None and n < 1:  # 0 would silently mean "unbounded"
            raise ValueError(f"max_files_per_trigger must be >= 1, got {n}")
        return cls(argv[0], argv[1], argv[2], n)

    @property
    def reader_options(self) -> dict[str, str]:
        """Stream-reader options carrying the per-trigger file bound."""
        n = self.max_files_per_trigger
        return {} if n is None else {"maxFilesPerTrigger": str(n)}
