"""T4: state reset / reprocessing.

Reference: ``streams.cleanUp()`` on ``--reset`` plus the external
``kafka-streams-application-reset`` tool (TokenBalance.java:66-69;
README.md:199-204) -- rewind offsets, purge internal topics and local
state.  Spark equivalent: delete the checkpoint directory and restart
the query with ``startingOffsets=earliest`` (SURVEY (S)3.3).

The streaming topology (``streaming/pipeline.py``) keeps one checkpoint,
``{out_dir}/ckpt``, and folds balances into ``{out_dir}/token_balance_store``
guarded by batch id.  A reset checkpoint restarts batch ids at 0, so the
store must be reset with it -- pass it (and ``{out_dir}/token_transfer``)
as ``output_paths``; a run refuses a store whose folded batches its
checkpoint never planned.
"""

from __future__ import annotations

import shutil
from pathlib import Path


def reset_pipeline(checkpoint_dir: str, output_paths: list[str] | None = None) -> list[str]:
    """Remove checkpoint state (and optionally output dirs) so
    the next start reprocesses from the beginning.  Returns the list of
    paths actually removed (missing paths are skipped, not errors --
    reset of a never-run pipeline is a no-op, matching cleanUp())."""
    removed: list[str] = []
    for p in [checkpoint_dir, *(output_paths or [])]:
        path = Path(p)
        if path.exists():
            shutil.rmtree(path)
            removed.append(p)
    return removed
