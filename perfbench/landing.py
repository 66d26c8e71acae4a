"""Open-loop landing generator for the ingest workload.

A separate, single-threaded process. It lands small parquet files of
``documents`` rows (``doc_id long, text string``) into a landing
directory on a fixed schedule, whether or not the stream keeps up:
landing ``i`` is due at ``start + i * interval``. Every file is written
under a hidden name before the schedule starts and renamed into place
when due, so the stream never sees a partial file and the generator
does almost no work on the schedule, which starts once every file is
written. Every landing is stamped in a JSON-lines manifest
with its due time, the time the generator started landing it, the time
it was in place, its doc ids and each doc's kind:

* ``new``   — fresh text;
* ``exact`` — an exact re-landing: the text of an earlier landed doc
  under a fresh, higher id;
* ``near``  — an earlier doc's text with its last token replaced.

The kind mix is drawn from the seed. After the scheduled landings the
generator waits for ``go_backlog`` to appear, then lands the backlog
as one file (due = the moment it renames it), so the whole backlog
is taken by one micro-batch.

    python perfbench/landing.py CONFIG_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))

from datagen import random_text  # noqa: E402

SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
#: how long the generator waits for ``go_backlog`` before it gives up
BACKLOG_WAIT_S = 120.0


class Landings:
    def __init__(self, cfg: dict):
        self.rng = np.random.default_rng(cfg["seed"])
        # kind mix drawn once from the seed: 5-15% exact, 5-15% near
        self.p_exact = float(self.rng.uniform(0.05, 0.15))
        self.p_near = float(self.rng.uniform(0.05, 0.15))
        self.next_id = cfg["first_id"]
        self.history: list[str] = list(cfg.get("history", []))
        self.dir = Path(cfg["landing"])
        self.manifest = open(cfg["manifest"], "a")
        self.n = 0

    def _doc(self) -> tuple[str, str]:
        u = self.rng.random()
        if self.history and u < self.p_exact:
            return "exact", self.history[int(self.rng.integers(0, len(self.history)))]
        if self.history and u < self.p_exact + self.p_near:
            base = self.history[int(self.rng.integers(0, len(self.history)))]
            return "near", base.rsplit(" ", 1)[0] + " " + random_text(self.rng, 1)
        return "new", random_text(self.rng, int(self.rng.integers(10, 101)))

    def stage(self, n_docs: int, phase: str) -> dict:
        """Write one landing's file under a hidden name."""
        kinds, texts = zip(*(self._doc() for _ in range(n_docs)))
        ids = list(range(self.next_id, self.next_id + n_docs))
        self.next_id += n_docs
        self.history.extend(t for k, t in zip(kinds, texts) if k == "new")
        name = f"land-{self.n:05d}.parquet"
        tmp = self.dir / f".{name}.tmp"
        pq.write_table(pa.table({"doc_id": ids, "text": list(texts)}, schema=SCHEMA), tmp)
        self.n += 1
        return {"i": self.n - 1, "phase": phase, "tmp": tmp, "path": self.dir / name,
                "ids": ids, "kinds": list(kinds)}

    def land(self, staged: list[dict], due: float) -> None:
        """Rename staged files into place, back to back, and stamp them."""
        started = time.time()
        for st in staged:
            os.rename(st["tmp"], st["path"])
            self.manifest.write(json.dumps({
                "i": st["i"], "phase": st["phase"], "due": due, "started": started,
                "written": time.time(), "ids": st["ids"], "kinds": st["kinds"],
            }) + "\n")
        self.manifest.flush()


def main(cfg: dict) -> int:
    gen = Landings(cfg)
    # every file is written before the schedule starts, so landing one
    # on time is a rename
    scheduled = [gen.stage(cfg["docs_per_landing"], "open")
                 for _ in range(cfg["n_landings"])]
    backlog = gen.stage(cfg["backlog_docs"], "backlog")
    start, interval = time.time(), cfg["interval"]
    for i, st in enumerate(scheduled):
        due = start + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        gen.land([st], due)
    go = Path(cfg["go_backlog"])
    deadline = time.time() + BACKLOG_WAIT_S
    while not go.exists():
        if time.time() > deadline:
            return 3
        time.sleep(0.05)
    gen.land([backlog], time.time())
    gen.manifest.close()
    return 0


if __name__ == "__main__":
    sys.exit(main(json.loads(Path(sys.argv[1]).read_text())))
