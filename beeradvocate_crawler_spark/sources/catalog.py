"""Iceberg-style snapshot catalog (SURVEY.md §7.4).

No lakehouse jar exists in this sandbox (SURVEY.md §0.2), so this thin
layer provides the Iceberg semantics the crawl actually needs —
snapshot isolation, delta append, per-round lineage, exact resume,
time travel by round — over plain parquet:

    run_dir/
      _SNAPSHOT                   # atomic pointer: {"round": r, "manifest": ...}
      _manifests/manifest-{r}.json
      <table>/r={r}/...parquet    # one directory per (table, round) write

Manifest (one per committed round) records, per table, the *explicit
file-list* (mode "replace" points at the latest rewrite, mode "delta"
accumulates append paths), its part-file inventory and row count,
the table's Spark schema, and free-form lineage/metrics.  Reads pass
that schema to the parquet reader, so reading a table runs no
schema-inference job; a delta table's schema is the union, by field
name, of its writes' schemas.
(Tables of manifests written before schemas were recorded are read
with inference, as before.)
Commit protocol: write parquet dirs -> write manifest json -> atomic
``os.replace`` of the pointer.  A crash between steps leaves the old
snapshot intact (exact resume, BASELINE.json north_rule).  Commits are
optimistically concurrent, Iceberg-style: an O_EXCL lock file bounds
the critical section (a lock whose holder pid is dead is cleared), and
inside it the commit fails with CommitConflictError unless the pointer
still names the snapshot this writer staged against — two drivers
racing the same run dir cannot silently clobber each other's rounds.

Per-partition lineage (A19): every write also inventories its part
files — path, byte size, and parquet-footer row count — into the
manifest.  ``validate()`` re-checks that inventory (existence, size,
footer readability + row count), so ``resume`` detects a missing or
truncated partition file and rolls back to the newest fully-valid
snapshot instead of continuing from corrupt state.  (This replaces the
``df.observe`` design sketched in SURVEY §2 A19: observe() crashes on
observed nodes under persist+union feeding a write command in this
Spark build, and footer-level inventory is stronger — it validates the
bytes actually on disk, not counters from the write-time plan.)
The same inventory is the only source of row counts: at commit every
table's ``rows`` is the sum of its files' footer counts, so a writer
passes none and no write runs a count job.

The interface is deliberately narrow (``read / write_round /
commit_round / latest``) so a real ``iceberg-spark-runtime`` catalog
can replace it unmodified when a jar is available.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

REPLACE = "replace"
DELTA = "delta"


class CommitConflictError(RuntimeError):
    """Another writer committed to (or holds the commit lock of) this
    run dir.  The Iceberg analogue: optimistic concurrency — stage
    freely, but a commit whose base snapshot is no longer current MUST
    fail instead of silently clobbering the other writer's round (two
    drivers resuming the same run dir after a failover is the real
    scenario).  Callers retry from the NEW current snapshot or stop."""


@dataclass
class Manifest:
    round: int
    tables: dict[str, dict[str, Any]] = field(default_factory=dict)
    lineage: dict[str, Any] = field(default_factory=dict)
    metrics: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "round": self.round,
                "tables": self.tables,
                "lineage": self.lineage,
                "metrics": self.metrics,
            },
            indent=1,
            sort_keys=True,
        )

    @classmethod
    def from_json(cls, s: str) -> "Manifest":
        d = json.loads(s)
        return cls(d["round"], d["tables"], d.get("lineage", {}), d.get("metrics", {}))


def _union_schema(a: dict[str, Any] | None, b: dict[str, Any]) -> dict[str, Any]:
    """Union of two struct schemas (``StructType.jsonValue()``) by field
    name; a name's first occurrence wins."""
    if a is None:
        return b
    names = {f["name"] for f in a["fields"]}
    return {**a, "fields": a["fields"] + [
        f for f in b["fields"] if f["name"] not in names]}


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        os.makedirs(os.path.join(run_dir, "_manifests"), exist_ok=True)
        self._staged: dict[str, dict[str, Any]] = {}
        self._staged_evolution: dict[str, list[dict[str, Any]]] = {}
        # write_round is called from concurrent driver threads (the
        # round loop overlaps independent table writes); the parquet
        # writes themselves are independent, only staging is shared
        self._stage_lock = threading.Lock()
        # base snapshot this INSTANCE believes is current — the other
        # half of optimistic concurrency (commit_round): a commit is
        # only valid on top of the snapshot this writer staged against,
        # so two writers racing the same round cannot both land
        m = self.latest()
        self._base_round = m.round if m is not None else -1

    # -- snapshot pointer ------------------------------------------------------
    def latest(self) -> Manifest | None:
        ptr = os.path.join(self.run_dir, "_SNAPSHOT")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            p = json.load(f)
        with open(os.path.join(self.run_dir, "_manifests", p["manifest"])) as f:
            return Manifest.from_json(f.read())

    def manifest_for_round(self, r: int) -> Manifest:
        """Time travel: load the manifest committed at round r."""
        with open(os.path.join(self.run_dir, "_manifests", f"manifest-{r:06d}.json")) as f:
            return Manifest.from_json(f.read())

    # -- writes (staged, become visible only at commit) ------------------------
    def write_round(self, name: str, df: DataFrame, r: int,
                    mode: str = REPLACE) -> None:
        """Stage one table's round-r write.  ``mode=replace``: this path
        becomes the table; ``mode=delta``: appended to the table's path
        list.  The table's row count is taken at commit from the part
        files' footers, so a write runs exactly one job."""
        path = os.path.join(self.run_dir, name, f"r={r:06d}")
        df.write.mode("overwrite").parquet(path)
        with self._stage_lock:
            self._staged[name] = {
                "mode": mode, "path": path,
                "files": self._inventory(path), "schema": df.schema.jsonValue(),
            }

    def _inventory(self, path: str) -> list[dict[str, Any]]:
        """Per-partition lineage: (relpath, bytes, footer row count)
        for every part file just written.  Footer reads are metadata-
        only (KBs each) — driver-side cost is negligible next to the
        write job itself."""
        import pyarrow.parquet as pq

        files = []
        for root, _dirs, fnames in os.walk(path):
            for fn in sorted(fnames):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                files.append({
                    "path": os.path.relpath(p, self.run_dir),
                    "bytes": os.path.getsize(p),
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                })
        return files

    def _acquire_commit_lock(self, r: int) -> None:
        """O_EXCL lock file = the commit critical section.  A lock left
        by a DEAD process (crash mid-commit; the old snapshot is intact
        by the write-ordering protocol) is cleared and retried once; a
        LIVE holder is a genuine concurrent writer -> conflict."""
        lock = os.path.join(self.run_dir, "_COMMIT_LOCK")
        for attempt in (0, 1):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, json.dumps(
                    {"pid": os.getpid(), "round": r}).encode())
                os.close(fd)
                return
            except FileExistsError:
                try:
                    with open(lock) as f:
                        holder = json.load(f)
                    pid = int(holder.get("pid", -1))
                except (OSError, ValueError):
                    holder, pid = "unreadable", -1
                if attempt == 0 and pid > 0 and not os.path.exists(
                    f"/proc/{pid}"
                ):
                    try:  # stale lock from a crashed writer
                        os.unlink(lock)
                    except OSError:
                        pass
                    continue
                raise CommitConflictError(
                    f"commit lock of {self.run_dir} held by {holder}"
                ) from None

    def _release_commit_lock(self) -> None:
        try:
            os.unlink(os.path.join(self.run_dir, "_COMMIT_LOCK"))
        except OSError:
            pass

    def commit_round(
        self,
        r: int,
        lineage: dict[str, Any] | None = None,
        metrics: dict[str, Any] | None = None,
    ) -> Manifest:
        self._acquire_commit_lock(r)
        try:
            return self._commit_round_locked(r, lineage, metrics)
        finally:
            self._release_commit_lock()

    def _commit_round_locked(
        self,
        r: int,
        lineage: dict[str, Any] | None,
        metrics: dict[str, Any] | None,
    ) -> Manifest:
        prev = self.latest()
        # CAS half of optimistic concurrency: the commit is only valid
        # on top of the immediately-preceding snapshot.  If another
        # writer advanced the pointer since this round staged its
        # writes, committing would orphan that writer's round — fail
        # loudly instead.  (resume-after-rollback still passes: the
        # pointer then NAMES round r-1, orphaned newer manifest files
        # notwithstanding.)
        prev_round = prev.round if prev is not None else -1
        # r == prev_round is a sanctioned amend of the CURRENT snapshot
        # (the crawl loop rebuilds missing seen_filter blobs into its
        # own round); r may also jump AHEAD of prev_round + 1 — a
        # starved round fast-forwards past its no-op successors and
        # commits at the skipped-to round number (plans/crawl.py), so
        # round numbers are monotone but not contiguous.  Either way the pointer must still name the
        # snapshot THIS writer staged against — if a concurrent writer
        # advanced it (including to the same round number), committing
        # would clobber their round.
        if self._base_round != prev_round or r < prev_round:
            raise CommitConflictError(
                f"cannot commit round {r}: current snapshot is round "
                f"{prev_round}, this writer staged against round "
                f"{self._base_round} — another writer advanced or "
                "rewound this run dir"
            )
        m = Manifest(r, {}, lineage or {}, metrics or {})
        prev_tables = prev.tables if prev else {}
        names = set(prev_tables) | set(self._staged) | set(self._staged_evolution)
        for name in names:
            staged = self._staged.get(name)
            old = prev_tables.get(name, {})
            t = dict(old)  # carried forward unless staged
            if staged is not None and staged["mode"] == REPLACE:
                t.update(mode=REPLACE, paths=[staged["path"]],
                         files=staged["files"], schema=staged["schema"])
            elif staged is not None:
                paths = old.get("paths", [])
                # a table committed without a schema (older manifest)
                # keeps none: its earlier files' schema is unknown
                if "schema" in old or not paths:
                    t["schema"] = _union_schema(old.get("schema"),
                                                staged["schema"])
                t.update(mode=DELTA, paths=paths + [staged["path"]],
                         files=old.get("files", []) + staged["files"])
            # from the footer inventory, carried-forward tables included:
            # an older manifest may hold a writer-supplied count
            t["rows"] = sum(f["rows"] for f in t.get("files", []))
            m.tables[name] = t
            # additive schema evolution: committed evolutions carry
            # forward; newly staged ones append (Iceberg add-column)
            evo = list(old.get("evolution", [])) + self._staged_evolution.get(
                name, []
            )
            if evo:
                t["evolution"] = evo
        mf = f"manifest-{r:06d}.json"
        with open(os.path.join(self.run_dir, "_manifests", mf), "w") as f:
            f.write(m.to_json())
        self._staged = {}
        self._staged_evolution = {}
        self._write_pointer(r, mf)
        self._base_round = r
        return m

    # -- schema evolution (Iceberg add-column, additive only) -------------------
    def evolve_table(
        self, name: str, column: str, dtype: str, default: Any = None
    ) -> None:
        """Stage an ADDITIVE schema evolution: table ``name`` gains
        ``column`` of Spark SQL type ``dtype``; rows written before the
        evolution read back as ``default`` (NULL if None) — Iceberg's
        add-column semantics over plain parquet.  Takes effect at the
        next ``commit_round`` (amend the current round or ride the next
        round's commit) and is recorded in the manifest, so time travel
        to pre-evolution snapshots still reads the ORIGINAL schema.
        Writers may keep producing the old schema after the bump —
        ``read`` uses the table's manifest schema, the union of every
        write's schema, and fills the default per file —
        which is what lets a resumed crawl cross a schema-version
        boundary without rewriting data or code.  Only add-column is
        supported (rename/drop/retype are not — the crawl state tables
        are append-heavy and additive covers the common evolution)."""
        with self._stage_lock:
            self._staged_evolution.setdefault(name, []).append(
                {"column": column, "type": dtype, "default": default}
            )

    def _apply_evolution(self, df: DataFrame, evo: list[dict[str, Any]]) -> DataFrame:
        from pyspark.sql import functions as F

        for e in evo:
            c, t, d = e["column"], e["type"], e.get("default")
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(t))
            col = F.col(c).cast(t)
            df = df.withColumn(
                c, col if d is None else F.coalesce(col, F.lit(d).cast(t))
            )
        return df

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots) -----------
    def compact_table(self, name: str, target_files: int | None = None) -> Manifest:
        """Rewrite a delta table's accumulated round files as ONE
        replace write and amend the current snapshot (Iceberg
        ``rewrite_data_files``).  At 10^10-URL scale the append-only
        tables (seen, frontier_log, crawl_order) otherwise grow one
        path-list entry per round and every read plans thousands of
        tiny files.  The rewrite lands in a NEW directory
        (``r={r}c``), so older manifests keep referencing the original
        delta dirs — time travel is untouched until
        ``expire_snapshots`` reclaims them."""
        m = self.latest()
        if m is None or name not in m.tables:
            raise ValueError(f"no table {name!r} to compact")
        df = self.read(name, m)
        if df is None:
            return m
        target_files = target_files or max(
            1, self.spark.sparkContext.defaultParallelism
        )
        path = os.path.join(self.run_dir, name, f"r={m.round:06d}c")
        df.repartition(target_files).write.mode("overwrite").parquet(path)
        with self._stage_lock:
            self._staged[name] = {
                "mode": REPLACE, "path": path,
                "files": self._inventory(path), "schema": df.schema.jsonValue(),
            }
        return self.commit_round(m.round, lineage=m.lineage, metrics=m.metrics)

    def expire_snapshots(self, keep_last: int = 1) -> dict[str, int]:
        """Drop manifests older than the newest ``keep_last`` rounds
        and DELETE data directories no kept manifest references
        (Iceberg ``expire_snapshots``): bounds catalog metadata and
        reclaims delta dirs superseded by ``compact_table``.  Time
        travel afterwards reaches only the kept rounds.  Runs inside
        the commit lock — it mutates shared catalog state."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.latest()
        if cur is None:
            return {"manifests_removed": 0, "dirs_removed": 0}
        self._acquire_commit_lock(cur.round)
        try:
            mdir = os.path.join(self.run_dir, "_manifests")
            rounds = sorted(
                int(f[len("manifest-"):-len(".json")])
                for f in os.listdir(mdir)
                if f.startswith("manifest-") and f.endswith(".json")
            )
            keep = set(rounds[-keep_last:]) | {cur.round}
            referenced: set[str] = set()
            for r in keep:
                for t in self.manifest_for_round(r).tables.values():
                    referenced.update(
                        os.path.normpath(p) for p in t.get("paths", [])
                    )
            dirs_removed = 0
            for entry in os.listdir(self.run_dir):
                tdir = os.path.join(self.run_dir, entry)
                if entry.startswith("_") or not os.path.isdir(tdir):
                    continue
                for sub in os.listdir(tdir):
                    p = os.path.normpath(os.path.join(tdir, sub))
                    if not sub.startswith("r=") or p in referenced:
                        continue
                    try:
                        # staged-but-uncommitted dirs (round beyond the
                        # current snapshot) are never expired
                        if int(sub[2:].rstrip("c")) > cur.round:
                            continue
                    except ValueError:
                        continue
                    shutil.rmtree(p, ignore_errors=True)
                    dirs_removed += 1
            manifests_removed = 0
            for r in rounds:
                if r not in keep:
                    os.unlink(os.path.join(mdir, f"manifest-{r:06d}.json"))
                    manifests_removed += 1
            return {"manifests_removed": manifests_removed,
                    "dirs_removed": dirs_removed}
        finally:
            self._release_commit_lock()

    def _write_pointer(self, r: int, mf: str) -> None:
        tmp = os.path.join(self.run_dir, "_SNAPSHOT.tmp")
        with open(tmp, "w") as f:
            json.dump({"round": r, "manifest": mf}, f)
        os.replace(tmp, os.path.join(self.run_dir, "_SNAPSHOT"))  # atomic

    # -- per-partition lineage validation (A19) --------------------------------
    def validate(self, manifest: Manifest | None = None) -> list[str]:
        """Check every manifest-listed part file: exists, byte size
        matches, parquet footer still readable with the recorded row
        count.  Returns problem strings (empty = valid snapshot)."""
        import pyarrow.parquet as pq

        m = manifest or self.latest()
        if m is None:
            return ["no snapshot"]
        problems: list[str] = []
        for name, t in sorted(m.tables.items()):
            for fe in t.get("files", []):
                p = os.path.join(self.run_dir, fe["path"])
                if not os.path.exists(p):
                    problems.append(f"{name}: missing {fe['path']}")
                    continue
                if os.path.getsize(p) != fe["bytes"]:
                    problems.append(
                        f"{name}: size {os.path.getsize(p)} != {fe['bytes']} "
                        f"for {fe['path']}"
                    )
                    continue
                try:
                    n = pq.ParquetFile(p).metadata.num_rows
                except Exception as e:
                    problems.append(f"{name}: unreadable footer {fe['path']}: {e}")
                    continue
                if n != fe["rows"]:
                    problems.append(
                        f"{name}: rows {n} != {fe['rows']} for {fe['path']}"
                    )
        return problems

    def rollback_to_valid(self) -> "Manifest":
        """Walk snapshots newest-first until one passes validate();
        re-point _SNAPSHOT at it.  A corrupt delta file taints every
        snapshot from its write round on, so this lands on the newest
        snapshot strictly older than the corruption — re-running the
        lost rounds is deterministic (§4.2) and overwrites the bad
        files in place.  Raises if no snapshot at all is valid."""
        m = self.latest()
        if m is None:
            raise ValueError(f"no snapshot in {self.run_dir}")
        first_problems = None
        # walk the manifests that EXIST, newest-first: round numbers are
        # monotone but not contiguous (starved-round fast-forward), so
        # decrementing a counter would stop at the first gap
        mdir = os.path.join(self.run_dir, "_manifests")
        rounds = sorted(
            (
                int(f[len("manifest-"):-len(".json")])
                for f in os.listdir(mdir)
                if f.startswith("manifest-") and f.endswith(".json")
            ),
            reverse=True,
        )
        for r in rounds:
            if r > m.round:
                continue  # orphaned newer manifest (post-rollback)
            mr = self.manifest_for_round(r)
            probs = self.validate(mr)
            if not probs:
                if r != m.round:
                    self._write_pointer(r, f"manifest-{r:06d}.json")
                self._base_round = r
                return mr
            first_problems = first_problems or probs
        raise ValueError(
            "no valid snapshot to resume from; latest problems: "
            + "; ".join((first_problems or [])[:5])
        )

    # -- reads -----------------------------------------------------------------
    def read_staged(self, name: str) -> DataFrame | None:
        """Read back THIS round's staged (not yet committed) write of a
        table — the write-once/read-many pattern the round loop uses for
        the fat ``parsed`` output (materialize straight to the delta
        parquet, then let downstream stages re-read it with column
        pruning instead of caching wide strings)."""
        staged = self._staged.get(name)
        if staged is None:
            return None
        return self._reader(staged["schema"]).parquet(staged["path"])

    def read(self, name: str, manifest: Manifest | None = None) -> DataFrame | None:
        m = manifest or self.latest()
        if m is None or name not in m.tables:
            return None
        t = m.tables[name]
        paths = t.get("paths", [])
        if not paths:
            return None
        schema = t.get("schema")
        evo = t.get("evolution") or []
        if schema is None and evo:
            # manifest written before tables carried a schema: its delta
            # paths can mix pre- and post-evolution files, so merge their
            # footer schemas (one footer read per file)
            df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        else:
            # the manifest schema covers every file; files that predate a
            # column read it as NULL, and an evolved column's default is
            # filled below (Iceberg read-time projection)
            df = self._reader(schema).parquet(*paths)
        return self._apply_evolution(df, evo)

    def _reader(self, schema: dict[str, Any] | None):
        r = self.spark.read
        return r if schema is None else r.schema(StructType.fromJson(schema))

    def rows(self, name: str, manifest: Manifest | None = None) -> int:
        m = manifest or self.latest()
        if m is None or name not in m.tables:
            return 0
        return m.tables[name].get("rows", 0)
