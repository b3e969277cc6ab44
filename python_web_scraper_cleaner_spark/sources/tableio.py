"""TableIO — transactional table layer with snapshot/rollback semantics.

The production design targets Iceberg tables (BASELINE.json north_star);
this sandbox has no Iceberg runtime jar, so TableIO provides the same
contract over parquet + atomic JSON manifests (SURVEY §4.2 item 4, §7 risk
5): a snapshot lists exactly the committed data directories, the LATEST
pointer is advanced with an atomic rename, and readers only ever see fully
committed snapshots. A killed job therefore resumes from the last committed
round with an identical view — the checkpoint/resume guarantee the
north_rule requires.

A commit has Iceberg's two steps: ``stage`` writes the data files to a
fresh dir no manifest references yet, ``publish`` makes them visible with
one atomic manifest advance. ``commit_round`` commits a round's tables:
their data writes overlap on a thread pool, their snapshots publish in
the caller's order. A failed commit leaves only unreferenced dirs behind,
which ``vacuum`` reclaims.

Layout per table:
    <root>/<name>/data/<round_tag>-<uuid>/part-*.parquet
    <root>/<name>/snap-00001.json   {"snapshot": 1, "round": 0,
                                     "dirs": [...], "schema": "<id>"}
    <root>/<name>/schema-<id>.json  Spark schema JSON, id = its digest
    <root>/<name>/LATEST            "00001"

A snapshot names the table's schema by id, and a read passes that schema
to Spark, so it needs no inference job. Each distinct schema is stored
once per table, as Iceberg's table metadata keeps its schemas and each
snapshot refers to one by id. A manifest written before the field existed
is read with inference.

When an Iceberg catalog is available, swap TableIO for the real thing —
the engine only uses this narrow interface (read / commit_round, with
append_round / overwrite its one-table case / rollback / latest_round,
plus read_at time travel and vacuum = Iceberg's VERSION AS OF and
expire_snapshots; commit_round is Iceberg writing a round's data files,
then committing each table).
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target


class TableIO:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- internals ----------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _snapshots(self, name: str) -> list[str]:
        td = self._tdir(name)
        if not os.path.isdir(td):
            return []
        # NUMERIC order, not lexicographic: zero-padding is 5 digits, so
        # from snapshot 100000 on a string sort would place 100000 before
        # 99999 and vacuum would expire the second-newest snapshot
        return sorted(
            (f for f in os.listdir(td)
             if f.startswith("snap-") and f.endswith(".json")
             and f[5:-5].isdigit()),
            key=lambda f: int(f[5:-5]))

    def _latest_snapshot(self, name: str) -> dict | None:
        td = self._tdir(name)
        ptr = os.path.join(td, "LATEST")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            snap_id = f.read().strip()
        with open(os.path.join(td, f"snap-{snap_id}.json")) as f:
            return json.load(f)

    def _commit(self, name: str, manifest: dict) -> None:
        """Write snapshot JSON then atomically advance LATEST (os.replace
        is atomic on POSIX — the reader sees the old or the new snapshot,
        never a torn state)."""
        td = self._tdir(name)
        os.makedirs(td, exist_ok=True)
        prev = self._latest_snapshot(name)
        snap_num = (prev["snapshot"] + 1) if prev else 1
        snap_id = f"{snap_num:05d}"
        manifest = dict(manifest, snapshot=snap_num)
        with open(os.path.join(td, f"snap-{snap_id}.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        tmp = os.path.join(td, f".LATEST.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(snap_id)
        os.replace(tmp, os.path.join(td, "LATEST"))

    # -- public API ----------------------------------------------------------
    def exists(self, name: str) -> bool:
        return self._latest_snapshot(name) is not None

    def latest_round(self, name: str) -> int | None:
        snap = self._latest_snapshot(name)
        return None if snap is None else snap.get("round")

    def stage(self, df: DataFrame, name: str, round_id: int) -> dict:
        """Write df to a fresh uuid data dir that no manifest references
        (Iceberg's data-file write). Returns what ``publish`` commits;
        until then the dir is invisible to readers, and if it is never
        published ``vacuum`` removes it."""
        ddir = os.path.join(self._tdir(name), "data",
                            f"r{round_id:06d}-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(ddir)
        return {"dir": os.path.relpath(ddir, self._tdir(name)),
                "schema": df.schema.json()}

    def _put_schema(self, name: str, schema_json: str) -> str:
        """Store a schema once per table under its digest; returns the id
        a manifest records."""
        schema_id = hashlib.sha1(schema_json.encode()).hexdigest()[:12]
        path = os.path.join(self._tdir(name), f"schema-{schema_id}.json")
        if not os.path.exists(path):
            os.makedirs(self._tdir(name), exist_ok=True)
            tmp = f"{path}.tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(schema_json)
            os.replace(tmp, path)
        return schema_id

    def publish(self, name: str, mode: str, round_id: int,
                staged: dict) -> None:
        """Make a staged dir visible: one atomic snapshot tagged with
        round_id. ``append`` adds it to the latest snapshot's dirs;
        ``overwrite`` replaces them (old dirs stay readable through
        read_at until vacuum). An append keeps the schema the table's
        first commit recorded. That is the schema inference picks (the
        first file in path order, and round tags sort the first commit
        first), so old dirs read as before when a later round adds a
        column."""
        prev = self._latest_snapshot(name)
        if mode == "append" and prev is not None:
            dirs, schema_id = prev["dirs"], prev.get("schema")
        else:
            dirs, schema_id = [], self._put_schema(name, staged["schema"])
        self._commit(name, {"round": round_id, "dirs": dirs + [staged["dir"]],
                            "schema": schema_id})

    def commit_round(self, round_id: int,
                     writes: list[tuple[str, str, Callable]]) -> None:
        """Commit one round's tables. ``writes`` is an ordered list of
        (name, mode, build): every ``build()`` and the parquet write of
        the frame it returns run at once, one thread per entry; the
        snapshots then publish on this thread in list order. On the first
        failure in that order, publishing stops: the error is re-raised
        once every write has ended, the earlier tables are at their new
        snapshot, the later ones at their old one, and the later tables'
        staged dirs are left unreferenced for vacuum. Readers see only
        manifests, so a crash leaves exactly a prefix of the list
        committed, as the serial loop did."""
        def write(name: str, build: Callable) -> dict:
            return self.stage(build(), name, round_id)

        if not writes:
            return
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            staged = [pool.submit(inheritable_thread_target(self.spark)(write),
                                  name, build)
                      for name, _, build in writes]
            # leaving the block joins every write, also when result()
            # raises
            for (name, mode, _), fut in zip(writes, staged):
                self.publish(name, mode, round_id, fut.result())

    def append_round(self, df: DataFrame, name: str, round_id: int) -> None:
        """Append df as one transactional commit tagged with round_id."""
        self.commit_round(round_id, [(name, "append", lambda: df)])

    def overwrite(self, df: DataFrame, name: str, round_id: int) -> None:
        """Replace table contents in one commit (old data dirs are simply
        no longer referenced — time travel to them stays possible)."""
        self.commit_round(round_id, [(name, "overwrite", lambda: df)])

    def _read_snapshot(self, name: str, snap: dict) -> DataFrame:
        """The snapshot's dirs, read with its recorded schema (no
        inference job), or inferred when the manifest predates it."""
        td = self._tdir(name)
        reader = self.spark.read
        if snap.get("schema") is not None:
            with open(os.path.join(td, f"schema-{snap['schema']}.json")) as f:
                reader = reader.schema(T.StructType.fromJson(json.load(f)))
        return reader.parquet(*[os.path.join(td, d) for d in snap["dirs"]])

    def read(self, name: str) -> DataFrame:
        snap = self._latest_snapshot(name)
        if snap is None or not snap["dirs"]:
            raise FileNotFoundError(f"table {name} has no committed snapshot")
        return self._read_snapshot(name, snap)

    def read_or_empty(self, name: str, schema) -> DataFrame:
        snap = self._latest_snapshot(name)
        if snap is None or not snap["dirs"]:
            return self.spark.createDataFrame([], schema)
        return self.read(name)

    def read_at(self, name: str, snapshot: int) -> DataFrame:
        """Time-travel read: the table exactly as of a committed snapshot
        (Iceberg VERSION AS OF analog). Old data dirs are never deleted, so
        every snapshot stays readable until an explicit GC."""
        td = self._tdir(name)
        path = os.path.join(td, f"snap-{snapshot:05d}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"snapshot {snapshot} of {name}")
        with open(path) as f:
            snap = json.load(f)
        if not snap["dirs"]:
            raise FileNotFoundError(f"snapshot {snapshot} of {name} is empty")
        return self._read_snapshot(name, snap)

    def snapshots(self, name: str) -> list[dict]:
        """All committed snapshot manifests, oldest first. A torn snap
        file (crash mid-_commit, before LATEST advanced to it) is by the
        commit protocol UNcommitted — skipped here, not an error."""
        td = self._tdir(name)
        out = []
        for f in self._snapshots(name):
            try:
                with open(os.path.join(td, f)) as fh:
                    out.append(json.load(fh))
            except (json.JSONDecodeError, OSError):
                continue
        return out

    def rollback(self, name: str, snapshot: int) -> None:
        td = self._tdir(name)
        snap_id = f"{snapshot:05d}"
        if not os.path.exists(os.path.join(td, f"snap-{snap_id}.json")):
            raise FileNotFoundError(f"snapshot {snapshot} of {name}")
        tmp = os.path.join(td, f".LATEST.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(snap_id)
        os.replace(tmp, os.path.join(td, "LATEST"))

    def vacuum(self, name: str, *, keep_last: int = 1) -> dict:
        """Expire old snapshots and delete data dirs no kept snapshot
        references (Iceberg ``expire_snapshots`` analog). Keeps the
        newest ``keep_last`` snapshots (the LATEST one always survives —
        keep_last is clamped to ≥ 1); time travel remains possible within
        the kept window and is refused beyond it, exactly like Iceberg
        after expiry.

        Safety order: snapshot JSONs of expired versions are removed
        FIRST, data dirs second — a crash mid-vacuum leaves unreferenced
        data dirs (wasted space, repaired by the next vacuum), never a
        snapshot that references deleted data. A kept snapshot at or
        below LATEST that cannot be read raises before anything is
        deleted: its data dirs are unknown, so no dir is provably
        unreferenced. Schema files stay: one small file per distinct
        schema the table ever had."""
        import shutil

        td = self._tdir(name)
        latest = self._latest_snapshot(name)
        if latest is None:
            raise FileNotFoundError(f"table {name} has no committed snapshot")
        keep_last = max(1, keep_last)
        snaps = self._snapshots(name)
        # never expire the snapshot LATEST points at, even if rollback
        # moved it behind newer snapshot files
        keep_files = set(snaps[-keep_last:])
        keep_files.add(f"snap-{latest['snapshot']:05d}.json")
        kept_dirs: set[str] = set()
        expired = []
        for fname in snaps:
            path = os.path.join(td, fname)
            try:
                with open(path) as f:
                    manifest = json.load(f)
            except (json.JSONDecodeError, OSError) as e:
                if (fname in keep_files
                        and int(fname[5:-5]) <= latest["snapshot"]):
                    raise RuntimeError(
                        f"vacuum {name}: kept snapshot {fname} is "
                        f"unreadable; nothing deleted") from e
                # torn snap from a crash mid-_commit: LATEST never pointed
                # at it (the pointer advances only after a complete dump),
                # so it is uncommitted garbage — expire it, never abort
                # the vacuum on it
                expired.append(path)
                continue
            if fname in keep_files:
                kept_dirs.update(manifest["dirs"])
            else:
                expired.append(path)
        for path in expired:
            os.remove(path)
        data_root = os.path.join(td, "data")
        removed = []
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                rel = os.path.join("data", d)
                if rel not in kept_dirs:
                    shutil.rmtree(os.path.join(data_root, d))
                    removed.append(rel)
        return {"expired_snapshots": len(expired),
                "removed_dirs": removed,
                "kept_snapshots": len(keep_files & set(snaps))}
