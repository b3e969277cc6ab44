"""Read a committed TableIO store with pyarrow, without Spark: the checks
look at the snapshots exactly as committed (snap-NNNNN.json lists the
data directories of one table version)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow.parquet as pq


class Store:
    def __init__(self, root: str) -> None:
        self.root = root

    def snapshots(self, table: str) -> list[dict]:
        tdir = os.path.join(self.root, table)
        if not os.path.isdir(tdir):
            return []
        out = []
        for f in sorted(os.listdir(tdir)):
            if f.startswith("snap-") and f.endswith(".json"):
                with open(os.path.join(tdir, f)) as fh:
                    out.append(json.load(fh))
        return sorted(out, key=lambda s: s["snapshot"])

    def latest(self, table: str) -> dict | None:
        ptr = os.path.join(self.root, table, "LATEST")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            num = int(f.read().strip())
        return next(s for s in self.snapshots(table) if s["snapshot"] == num)

    def before(self, table: str, round_id: int) -> dict | None:
        """The version a round started from: the newest snapshot whose
        round is below round_id."""
        snaps = [s for s in self.snapshots(table) if s["round"] < round_id]
        return snaps[-1] if snaps else None

    def at(self, table: str, round_id: int) -> dict | None:
        snaps = [s for s in self.snapshots(table) if s["round"] == round_id]
        return snaps[-1] if snaps else None

    def frame(self, table: str, snap: dict | None,
              columns: list[str]) -> pd.DataFrame:
        if snap is None:
            return pd.DataFrame(columns=columns)
        parts = []
        for d in snap["dirs"]:
            ddir = os.path.join(self.root, table, d)
            files = sorted(f for f in os.listdir(ddir)
                           if f.endswith(".parquet"))
            parts += [pq.read_table(os.path.join(ddir, f),
                                    columns=columns).to_pandas()
                      for f in files]
        if not parts:
            return pd.DataFrame(columns=columns)
        return pd.concat(parts, ignore_index=True)

    def urls(self, table: str, snap: dict | None) -> set[str]:
        return set(self.frame(table, snap, ["canonical_url"])["canonical_url"])
