"""TableStore — Iceberg-style snapshot/manifest shim over parquet.

North_rule: "resumable from checkpoint with per-partition lineage +
metrics". The sandbox has no Iceberg runtime jar, so this implements
the same contract on plain parquet (SURVEY.md §4: the shim):

- each state table is a list of **segments** (parquet dirs). Mutating
  tables (frontier, cuckoo, robots) are ``mode="full"``: one segment,
  rewritten per checkpoint. Append-only tables (pages, signatures,
  logs, counters, corpus freqs) are ``mode="delta"``: every checkpoint
  adds ONLY the rows appended since the last one — per-checkpoint
  write cost is O(wave), not O(state), the same Iceberg
  append-snapshot shape the in-memory engine state uses
  (plans/crawl.py delta accumulation). A reader unions the segments;
  additively-merged tables (counters) are re-aggregated on load by
  the engine (it owns the merge keys).
- the **manifest** (``manifest.json``) is the single commit point,
  written LAST via tmp-file + atomic ``os.replace``: a crash anywhere
  before the rename leaves the previous manifest (and therefore the
  previous consistent snapshot) in effect — segment dirs written by
  the aborted wave are orphans, ignored by construction because
  readers only load paths the manifest names. Delta segments may be
  flushed to disk well before the manifest that names them (the
  engine flushes at compaction time to release memory pins); they
  stay invisible until committed.
- per-partition lineage: every segment records its wave of origin,
  row count, and parquet part-files with sizes, plus free-form engine
  metrics on the manifest.

Resume = read manifest → union each table's named segments → hand the
DataFrames back to a fresh CrawlEngine. Kill-and-resume equivalence
is tested in tests/test_resume.py (resumed run == uninterrupted run,
byte-exact state).

Reference analog: the gob file cache checkpoint (crawler.go:103-151)
and the every-50-docs dumps (crawler.go:1285-1345); this is their
table-native generalization.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "manifest.json"


class TableStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- segment writes (NOT commits) ----------------------------------

    def write_segment(
        self, name: str, label: str, df: DataFrame, wave: int
    ) -> dict:
        """Write one parquet segment ``{root}/{name}/{label}/`` and
        return its manifest entry. Invisible until a later commit
        names it (crash between write and commit = ignored orphan)."""
        path = os.path.join(self.root, name, label)
        df.write.mode("overwrite").parquet(path)
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        # count from the written files' parquet footers (metadata-only
        # scan), never by re-executing the delta plan
        n = df.sparkSession.read.parquet(path).count()
        return {
            "path": path,
            "wave": wave,
            "row_count": n,
            "partitions": [
                {"file": f, "bytes": os.path.getsize(os.path.join(path, f))}
                for f in files
            ],
        }

    # -- commit ---------------------------------------------------------

    def commit(
        self,
        wave: int,
        full_tables: dict[str, DataFrame],
        delta_segments: Optional[dict[str, list[dict]]] = None,
        metrics: Optional[dict] = None,
    ) -> dict:
        """Atomically commit a snapshot: rewrite the mutating tables,
        append the new delta segments to each delta table's committed
        list (carried forward from the current manifest), then swap
        the manifest in. Idempotent per wave: re-running a wave
        overwrites its full dirs and re-commits the same lists."""
        prev = self.read_manifest() or {"tables": {}}
        entries: dict[str, dict] = {}
        for name, df in full_tables.items():
            if df is None:
                continue
            seg = self.write_segment(name, f"wave={wave:06d}", df, wave)
            entries[name] = {"mode": "full", "segments": [seg]}
        # delta tables with nothing new this commit keep their
        # committed segment lists — a quiet table must not vanish
        for name, old in prev["tables"].items():
            if old.get("mode") == "delta" and name not in (delta_segments or {}):
                entries[name] = old
        for name, new_segs in (delta_segments or {}).items():
            old = prev["tables"].get(name, {})
            committed = list(old.get("segments", [])) if (
                old.get("mode") == "delta"
            ) else []
            # crash-replay hygiene: drop committed DATA segments from
            # waves the engine is re-running (their rows will be
            # re-flushed). Tombstones are exempt on both sides: a
            # tombstone's wave stamp must never clobber committed data
            # of that wave, and a committed tombstone must survive
            # replay — re-appended rows land AFTER it in segment
            # order, so the sequential fold keeps them while the
            # pre-tombstone rows stay deleted.
            replay_from = min(
                (
                    s["wave"]
                    for s in new_segs
                    if s.get("kind") != "tombstone"
                ),
                default=None,
            )
            if replay_from is not None:
                committed = [
                    s
                    for s in committed
                    if s["wave"] < replay_from
                    or s.get("kind") == "tombstone"
                ]
            entries[name] = {
                "mode": "delta",
                "segments": committed + list(new_segs),
            }
        manifest = {
            "format_version": 2,
            "wave": wave,
            "tables": entries,
            "metrics": metrics or {},
        }
        tmp = os.path.join(self.root, f".{MANIFEST}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.root, MANIFEST))  # commit point
        # snapshot GC (AFTER the commit point, so a crash never loses a
        # committed dir): full-mode tables write a fresh wave-labelled
        # dir every checkpoint, and without cleanup every superseded
        # snapshot leaks — frontier-sized, once per wave. Keep the dirs
        # the NEW manifest names plus the previous manifest's (a lazy
        # plan created from the previous snapshot may not have
        # materialized yet); everything older is unreachable by any
        # reader and removed.
        import shutil

        keep = set()
        for src in (manifest, prev):
            for entry in src.get("tables", {}).values():
                if entry.get("mode") == "full":
                    for s in entry["segments"]:
                        keep.add(os.path.abspath(s["path"]))
        for name, entry in manifest["tables"].items():
            if entry.get("mode") != "full":
                continue
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            for label in os.listdir(tdir):
                if not label.startswith("wave="):
                    continue
                p = os.path.abspath(os.path.join(tdir, label))
                if p not in keep:
                    shutil.rmtree(p, ignore_errors=True)
        return manifest

    # -- read -----------------------------------------------------------

    def read_manifest(self) -> Optional[dict]:
        p = os.path.join(self.root, MANIFEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def load_snapshot(self, spark: SparkSession) -> Optional[tuple[int, dict]]:
        """(wave, {table: DataFrame}) for the last committed snapshot,
        or None if no manifest exists. Delta tables come back as the
        SEQUENTIAL fold of their segments: data segments union in
        commit order, and a tombstone segment (``kind: tombstone``,
        written by CrawlEngine.retire) anti-joins its keys against
        everything folded so far — rows appended after the tombstone
        are untouched, the Iceberg row-level-delete apply order. The
        engine re-aggregates the additively-merged tables; tables with
        zero segments (nothing ever appended) are omitted — the engine
        keeps its typed empty base."""
        m = self.read_manifest()
        if m is None:
            return None
        tables = {}
        for name, entry in m["tables"].items():
            segs = entry["segments"]
            if not segs:
                continue
            df = None
            plain = [s for s in segs if s.get("kind") != "tombstone"]
            if not any(s.get("kind") == "tombstone" for s in segs):
                # fast path: one multi-path reader, no fold
                df = spark.read.parquet(*[s["path"] for s in plain])
            else:
                for s in segs:
                    sdf = spark.read.parquet(s["path"])
                    if s.get("kind") == "tombstone":
                        if df is not None:
                            key = s.get("key", "url")
                            df = df.join(
                                sdf.select(key), key, "left_anti"
                            )
                    else:
                        df = sdf if df is None else df.unionByName(sdf)
            if df is not None:
                tables[name] = df
        return m["wave"], tables
