"""Manifest-based snapshot table format (Delta-lite, stdlib-only).

The reference mutates Cassandra in place (INSERT batches, DELETE ranges —
datastore/batchwriter.go:35-68, datastore/metricquery.go:25-84) and leans on
the database for atomicity. The parquet-directory store replaced those with
write-then-rename partition rewrites (engine.py), which is safe for a single
writer but still exposes readers to a window where a partition directory is
mid-swap, and a crashed rewrite loses the partition until repaired.

This module upgrades the store to a versioned-manifest table:

  root/
    _manifests/v000000000042.json   <- the ONLY source of truth for contents
    resolution_s=10/date_bucket=2020-01-01/<uuid>-part-....parquet

  * A snapshot = the file list in the latest manifest. Readers resolve a
    manifest ONCE and read exactly those files — a concurrent delete/compact
    /append commits a NEW manifest and never touches files a reader holds:
    snapshot isolation without locks.
  * Commits are atomic: the manifest is staged to a tmp name and published
    with os.link(tmp, final), which fails if the version already exists —
    optimistic concurrency, the loser re-reads and retries (appends) or
    surfaces the conflict (rewrites). On HDFS/S3 the same protocol rides
    rename-if-absent / put-if-absent.
  * DELETE/compaction rewrite only the files that contain hits; replaced
    files stay on disk for older snapshots until vacuum() — time travel and
    crash safety come free (a crashed rewrite leaves an orphan data file and
    NO manifest: invisible, reclaimed by vacuum).
  * Manifest-level pruning: partition predicates cut the file list BEFORE
    Spark ever lists a directory — at 100 TB the driver plans from a few KB
    of JSON instead of a 10M-file listing. (Spark still partition-prunes
    and row-group-skips within the chosen files.)

  * Per-file column min/max stats ride every manifest entry, harvested from
    the parquet footers at stage time (zero extra scan): read(prune=[(col,
    op, val)]) skips files driver-side, conservative on missing stats.
  * Schema evolution is ADD-ONLY (alter_add_columns): nullable fields join
    the stored schema in a manifest-only commit; old files read as null.
  * CHECK constraints (add_constraint): SQL boolean expressions validated
    against the current table once, then enforced on every append/merge
    (NULL = violation, Delta semantics); they ride commits like the schema.
  * Commits are wall-time stamped: version_as_of(ts) resolves timestamp
    time travel next to version-number time travel.
  * read_changes(since, to) is the append-only CDC feed (one append commit
    per streaming microbatch); row rewrites (delete/merge) raise.

Commit metadata is O(delta), not O(live files) (r5 — the pre-checkpoint-
Delta problem): each commit manifest records only the ACTIONS of that
commit — {"add": [file entries], "remove": [paths]} — plus the (small)
schema/constraints, never the full live file list. A snapshot is
reconstructed by replaying the action log on top of the nearest base:

  * a CHECKPOINT (`_manifests/c<version>.json`, full file list) is written
    every `checkpoint_every` commits and advertised in `_last_checkpoint`
    (best-effort hints — the commits themselves are the truth);
  * an in-memory memo of the last reconstruction makes the streaming hot
    path (head = memo version + 1) a single small JSON read;
  * vacuum() force-checkpoints the oldest retained version before pruning
    older commit manifests, so every retained snapshot stays
    reconstructible.

At 100 TB (~100k live files) this is the difference between every
microbatch commit serializing a multi-ten-MB JSON on the driver and a
few-KB action write: commit latency and head-load time scale with the
batch, not the table (measured: tools/manifest_bench.py, SCALE_r05.md).
Legacy full manifests ({"files": [...]}) still replay — they act as a
reset in the log — so pre-r5 tables read unchanged.

Single-table scope: no multi-table transactions.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cassabon_spark.session import empty_frame

MANIFEST_DIR = "_manifests"
STAGING_DIR = "_staging"


class CommitConflict(RuntimeError):
    """Another writer published this version first (optimistic concurrency)."""


class SnapshotTable:
    #: write a full-file-list checkpoint every N commits (Delta writes one
    #: every 10); between checkpoints a snapshot replays at most N-1 small
    #: action manifests on top of the checkpoint (or the in-memory memo)
    checkpoint_every = 16

    def __init__(self, spark: SparkSession, root: str):
        import threading

        self.spark = spark
        self.root = str(root)
        Path(self.root, MANIFEST_DIR).mkdir(parents=True, exist_ok=True)
        # memo of the last reconstruction: (version, files_list). The list
        # is never mutated after being stored; snapshot() hands out copies.
        self._memo: tuple[int, list[dict]] | None = None
        self._memo_lock = threading.Lock()
        # in-flight async checkpoint writers (r6, VERDICT r5 #5): commits
        # hand the O(live-files) checkpoint serialization to a daemon
        # thread; _ckpt_flush() joins them where presence matters (vacuum)
        self._ckpt_threads: list = []

    # ------------------------------------------------------------ manifests

    def _manifest_path(self, version: int) -> Path:
        return Path(self.root, MANIFEST_DIR, f"v{version:012d}.json")

    def versions(self) -> list[int]:
        return sorted(
            int(p.stem[1:])
            for p in Path(self.root, MANIFEST_DIR).glob("v*.json")
        )

    def _head_hint_path(self) -> Path:
        return Path(self.root, MANIFEST_DIR, "_HEAD")

    def version(self) -> int | None:
        """Latest version, O(1) in commit count: read the _HEAD hint and
        probe forward past any commits whose hint write was lost (the hint
        is best-effort — commits are the manifests themselves). Falls back
        to a full listing when no/invalid hint exists."""
        try:
            v = int(self._head_hint_path().read_text().strip())
        except (OSError, ValueError):
            vs = self.versions()
            return vs[-1] if vs else None
        if not self._manifest_path(v).exists():
            # stale-ahead hint (e.g. restored backup) — re-list
            vs = self.versions()
            return vs[-1] if vs else None
        while self._manifest_path(v + 1).exists():
            v += 1
        return v

    def _load(self, version: int) -> dict:
        return json.loads(self._manifest_path(version).read_text())

    # -------------------------------------------------------- checkpoints

    def _ckpt_path(self, version: int) -> Path:
        return Path(self.root, MANIFEST_DIR, f"c{version:012d}.json")

    def _ckpt_hint_path(self) -> Path:
        return Path(self.root, MANIFEST_DIR, "_last_checkpoint")

    def _ckpt_versions(self) -> list[int]:
        return sorted(
            int(p.stem[1:])
            for p in Path(self.root, MANIFEST_DIR).glob("c*.json")
        )

    def _latest_ckpt_at_or_before(self, v: int) -> int | None:
        """Best checkpoint base for reconstructing version v: try the O(1)
        `_last_checkpoint` hint, fall back to listing. Hints are
        best-effort, so a missing/stale hint only costs a directory list."""
        try:
            c = int(self._ckpt_hint_path().read_text().strip())
            if c <= v and self._ckpt_path(c).exists():
                return c
        except (OSError, ValueError):
            pass
        cs = [c for c in self._ckpt_versions() if c <= v]
        return cs[-1] if cs else None

    def _write_checkpoint(self, version: int, files: list[dict]) -> None:
        """Materialize the full reconstructed state at `version` as a
        checkpoint file + advance the `_last_checkpoint` hint. Purely a
        read-path accelerator: idempotent (same version ⇒ same content, so
        concurrent writers racing on os.replace are harmless) and
        best-effort (losing it costs replay depth, never correctness)."""
        import time as _time

        tmp = None
        hint = None
        try:
            man = self._load(version)
            head = {
                "version": version,
                "schema": man.get("schema"),
                "constraints": man.get("constraints", {}),
            }
            tmp = Path(self.root, MANIFEST_DIR, f".ctmp-{uuid.uuid4().hex}.json")
            # serialize the file list in CHUNKS, not one json.dumps of the
            # whole payload: the C encoder holds the GIL for its entire
            # run, and a ~38 MB single dump at a 100k-file head stalls a
            # concurrently committing caller for ~0.4 s (measured — the
            # r6 async-checkpoint p99 was still 15x p50 before chunking).
            # One C-encoder call per 1000-entry slice keeps near-monolith
            # throughput while giving the interpreter a switch point every
            # few ms. Output parses identically with json.loads.
            with open(tmp, "w") as fh:
                fh.write(json.dumps(head, sort_keys=True)[:-1])
                fh.write(', "files": [')
                for i in range(0, len(files), 1000):
                    if i:
                        fh.write(",")
                        _time.sleep(0)  # explicit switch point for committers
                    fh.write(json.dumps(files[i : i + 1000], sort_keys=True)[1:-1])
                fh.write("]}")
            os.replace(tmp, self._ckpt_path(version))
            tmp = None  # replace landed; nothing to clean up
            cur = None
            try:
                cur = int(self._ckpt_hint_path().read_text().strip())
            except (OSError, ValueError):
                pass
            if cur is None or version > cur:
                hint = Path(self.root, MANIFEST_DIR, f".chint-{uuid.uuid4().hex}")
                hint.write_text(str(version))
                os.replace(hint, self._ckpt_hint_path())
                hint = None  # replace landed
        except OSError:
            pass
        finally:
            # a mid-write failure (e.g. ENOSPC) lands in the bare OSError
            # above with the .ctmp / .chint temp abandoned; vacuum never
            # prunes them so they would accumulate forever (ADVICE r6/r7)
            for leftover in (tmp, hint):
                if leftover is not None:
                    try:
                        os.unlink(leftover)
                    except OSError:
                        pass

    # ------------------------------------------------------- reconstruction

    def _replay(self, base_v: int | None, base_files: list[dict], v: int) -> list[dict]:
        """Apply the action log (base_v, v] on top of base_files. A legacy
        full manifest in the chain acts as a reset. Raises FileNotFoundError
        if a needed manifest was vacuumed — callers fall back to a
        checkpoint base."""
        files = list(base_files)
        for i in range((base_v + 1) if base_v is not None else 0, v + 1):
            m = self._load(i)
            if "files" in m:  # legacy full manifest: authoritative reset
                files = list(m["files"])
                continue
            rm = set(m.get("remove") or ())
            if rm:
                files = [f for f in files if f["path"] not in rm]
            files.extend(m.get("add") or ())
        return files

    def _files_at(self, v: int) -> list[dict]:
        """Reconstruct the live file list at version v: memo base when it
        applies, else nearest checkpoint, else full replay from the log
        head. The result is memoized (the streaming hot path — head = memo
        version + 1 — replays exactly one small action manifest)."""
        with self._memo_lock:
            memo = self._memo
        if memo is not None and memo[0] == v:
            return memo[1]  # exact memo hit: zero IO (the per-query shape)

        def _ckpt_base():
            ck = self._latest_ckpt_at_or_before(v)
            if ck is None:
                return None
            try:
                return (ck, json.loads(self._ckpt_path(ck).read_text())["files"])
            except (OSError, ValueError, KeyError):
                return None

        # lazy base candidates, best first: a memo at <= v costs only the
        # replay of the gap; the checkpoint JSON (O(live files)) is parsed
        # ONLY when the memo doesn't apply or its chain was vacuumed
        bases = []
        if memo is not None and memo[0] <= v:
            bases.append(lambda: (memo[0], memo[1]))
        bases.append(_ckpt_base)
        bases.append(lambda: (None, []))
        err: Exception | None = None
        for get_base in bases:
            base = get_base()
            if base is None:
                continue
            try:
                files = self._replay(base[0], base[1], v)
                with self._memo_lock:
                    if self._memo is None or self._memo[0] <= v:
                        self._memo = (v, files)
                return files
            except FileNotFoundError as e:
                err = e  # base predates vacuumed manifests — try next base
        raise err if err is not None else FileNotFoundError(
            f"cannot reconstruct version {v}"
        )

    def snapshot(self, version: int | None = None) -> dict:
        v = self.version() if version is None else version
        if v is None:
            return {"version": None, "files": [], "schema": None}
        man = self._load(v)
        files = (
            list(man["files"]) if "files" in man else list(self._files_at(v))
        )
        return {
            "version": v,
            "parent": man.get("parent"),
            "op": man.get("op"),
            "committed_at": man.get("committed_at"),
            "schema": man.get("schema"),
            "constraints": man.get("constraints", {}),
            "txns": man.get("txns", {}),
            "files": files,
        }

    def _commit(self, parent: int | None, payload: dict) -> int:
        """Publish payload as version parent+1 via atomic link-if-absent.
        Stamps commit wall-time (timestamp time travel) and carries the
        parent's CHECK constraints forward unless the payload sets them.

        Payloads are ACTION LOGS — {"add": [entries], "remove": [paths]}
        plus op/schema(/constraints) — so the write is O(this commit), not
        O(live files). A payload carrying a full "files" list (legacy
        callers, tests) is written verbatim and replays as a reset."""
        import time

        next_v = 0 if parent is None else parent + 1
        # copy BEFORE filling defaults: mutating the caller's dict would make
        # a commit-conflict retry against a NEW parent reuse the constraint
        # set captured from the ORIGINAL parent, silently reverting a racer's
        # add_constraint/drop_constraint (ADVICE r5)
        payload = {
            **payload,
            "version": next_v,
            "parent": parent,
            "committed_at": time.time(),
        }
        if "constraints" not in payload and parent is not None:
            payload["constraints"] = self._load(parent).get("constraints", {})
        # streaming-transaction map (the Delta SetTransaction pattern):
        # carried forward whole on every commit, like constraints — size is
        # the number of distinct writer app-ids, so the head manifest
        # answers "has (app, ver) committed?" in O(1) with no replay
        if "txns" not in payload and parent is not None:
            t = self._load(parent).get("txns")
            if t:
                payload["txns"] = t
        tmp = Path(self.root, MANIFEST_DIR, f".tmp-{uuid.uuid4().hex}.json")
        tmp.write_text(json.dumps(payload, indent=1, sort_keys=True))
        final = self._manifest_path(next_v)
        try:
            os.link(tmp, final)  # atomic; EEXIST if a racer won
        except FileExistsError as e:
            raise CommitConflict(f"version {next_v} already committed") from e
        finally:
            tmp.unlink(missing_ok=True)
        # best-effort O(1) head pointer; version() self-heals if this is lost
        try:
            hint = Path(self.root, MANIFEST_DIR, f".head-{uuid.uuid4().hex}")
            hint.write_text(str(next_v))
            os.replace(hint, self._head_hint_path())
        except OSError:
            pass
        # advance the memo when this commit extends it (the streaming case),
        # then drop a periodic checkpoint so cold readers never replay far.
        # The reconstruction (memo + one-manifest replay) stays on the
        # committing caller — cheap — but the O(live-files) JSON
        # serialization + write moves to a daemon thread (r6, VERDICT r5
        # #5: the synchronous write put a ~0.65 s p99 spike on every 16th
        # commit at 100k files). The write is idempotent and best-effort,
        # so a thread that loses a race or dies with the process costs
        # replay depth, never correctness; vacuum() flushes first because
        # it is the one caller for which checkpoint PRESENCE matters.
        if next_v > 0 and next_v % self.checkpoint_every == 0:
            import threading

            t = threading.Thread(
                target=self._ckpt_async,
                args=(next_v,),
                name=f"snapshot-ckpt-{next_v}",
                daemon=True,
            )
            t.start()
            # prune finished writers as we go: a long-running streaming
            # committer would otherwise retain one dead Thread per 16
            # commits forever (only vacuum/_ckpt_flush joined them).
            # Under _memo_lock (ADVICE r6): two threads crossing a
            # checkpoint boundary ran this read-modify-write unlocked, so
            # one writer reference could be lost and vacuum's flush then
            # misses an in-flight writer — which could recreate a stale
            # checkpoint AFTER vacuum pruned it.
            with self._memo_lock:
                self._ckpt_threads = [
                    x for x in self._ckpt_threads if x.is_alive()
                ] + [t]
        return next_v

    def _ckpt_async(self, version: int) -> None:
        """Thread body for a periodic checkpoint: reconstruction AND write
        both run off the committing caller. Preferred path is a SUBPROCESS
        — CPython's json encoder holds the GIL, so even a chunked
        in-process write steals interpreter time from a tight-loop
        committer (measured: commit p99 0.15 s vs p50 0.03 s at a
        100k-file head with the in-process thread; the subprocess leaves
        p99 at p50). The subprocess re-derives the file list from the
        manifests on disk — nothing is pickled across — and the write is
        idempotent, so a lost race / dead process costs replay depth,
        never correctness. Falls back to in-process (chunked, GIL-slice-
        bounded) when spawning fails; a chain vacuumed in the meantime
        just skips the checkpoint (best-effort)."""
        import subprocess
        import sys as _sys

        script = (
            "import sys\n"
            "from cassabon_spark.sources.snapshot import SnapshotTable\n"
            "t = SnapshotTable(None, sys.argv[1])\n"
            "v = int(sys.argv[2])\n"
            "try:\n"
            "    files = t._files_at(v)\n"
            "except FileNotFoundError:\n"
            "    sys.exit(0)\n"
            "t._write_checkpoint(v, files)\n"
        )
        try:
            pkg_root = os.path.dirname(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            )
            env = dict(os.environ)
            env["PYTHONPATH"] = pkg_root + os.pathsep + env.get("PYTHONPATH", "")
            rc = subprocess.call(
                [_sys.executable, "-c", script, self.root, str(version)],
                env=env,
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                timeout=600,
            )
            if rc == 0 and self._ckpt_path(version).exists():
                return
        except Exception:  # noqa: BLE001 — any spawn failure -> fallback
            pass
        try:
            files = self._files_at(version)
        except FileNotFoundError:
            return
        self._write_checkpoint(version, files)

    def _ckpt_flush(self) -> None:
        """Join in-flight async checkpoint writers (vacuum / tests)."""
        with self._memo_lock:
            pending = list(self._ckpt_threads)
        for t in pending:
            t.join()
        with self._memo_lock:
            self._ckpt_threads = [
                t for t in self._ckpt_threads if t.is_alive()
            ]

    # ------------------------------------------------------------ read path

    def _abs_entry(self, f: dict) -> str:
        """Absolute path of a manifest entry: entries written by THIS table
        resolve under self.root; entries adopted by a shallow clone carry
        their origin root in "base" (clone_to)."""
        return f"{f.get('base') or self.root}/{f['path']}"

    def files_for(
        self,
        version: int | None = None,
        partition_filter: Callable[[dict], bool] | None = None,
        prune: list[tuple] | None = None,
    ) -> list[dict]:
        """The manifest file list after driver-side pruning: partition
        predicates first, then per-file min/max stats against `prune` —
        a list of (column, op, value) with op in {'=','<','<=','>','>='}.
        A file with no usable stats for a column is conservatively kept,
        so pruning can only remove files that provably contain no hit."""
        snap = self.snapshot(version)
        files = snap["files"]
        if partition_filter is not None:
            files = [f for f in files if partition_filter(f["partition"])]
        if prune:
            files = [f for f in files if _file_may_match(f, prune)]
        return files

    def read(
        self,
        version: int | None = None,
        partition_filter: Callable[[dict], bool] | None = None,
        prune: list[tuple] | None = None,
    ) -> DataFrame:
        """DataFrame over one snapshot. partition_filter prunes the FILE LIST
        driver-side from the manifest's partition values (strings, as they
        appear in the directory names) before Spark plans anything; `prune`
        additionally skips files whose footer-derived min/max stats prove
        the predicate can't hit (see files_for). The caller still applies
        the real row filter — stats pruning is a superset guarantee, and
        together with a clustered layout (sortWithinPartitions on the
        predicate columns, or a z-order key for several at once) it is the
        manifest-level data-skipping path: at 100 TB the driver cuts the
        file list from the few-KB manifest before touching storage."""
        v = self.version() if version is None else version  # pin: one snapshot
        snap = self.snapshot(v)
        files = self.files_for(v, partition_filter, prune)
        if not files:
            schema = snap.get("schema")
            if schema is None:
                raise ValueError(f"snapshot table {self.root} has no commits yet")
            return empty_frame(self.spark, StructType.fromJson(schema))
        return self.read_files(files, schema=snap.get("schema"))

    # ------------------------------------------------------------ write path

    def _stage(self, df: DataFrame, partition_cols: tuple[str, ...]) -> list[dict]:
        """Write df into a staging dir, then hard-link each data file into
        its final partition directory under root (same filesystem, so link
        is cheap and atomic per file; files are invisible to readers until
        the manifest commits). Returns manifest file entries, each carrying
        per-file column min/max harvested from the parquet FOOTERS the
        write already produced — data-skipping stats at zero extra scan
        cost (the Delta/Iceberg stats model)."""
        stage = Path(self.root, STAGING_DIR, uuid.uuid4().hex)
        # INT96 timestamps (Spark's default) carry no footer min/max; force
        # the modern type so timestamp columns are skippable. Runtime conf —
        # set defensively because the session may not be ours (the driver's).
        self.spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(str(stage))
        entries = []
        for p in sorted(stage.rglob("*.parquet")):
            rel_parts = p.relative_to(stage).parts[:-1]  # partition dirs
            partition = dict(part.split("=", 1) for part in rel_parts)
            dest_rel = "/".join((*rel_parts, f"{uuid.uuid4().hex[:12]}-{p.name}"))
            dest = Path(self.root, dest_rel)
            dest.parent.mkdir(parents=True, exist_ok=True)
            os.link(p, dest)
            entries.append(
                {
                    "path": dest_rel,
                    "partition": partition,
                    "bytes": p.stat().st_size,
                    "stats": _footer_stats(p),
                }
            )
        # staged copies are hard links' sources; removing the staging dir
        # leaves the linked data files intact
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
        return entries

    def read_files(self, files: list[dict], schema: dict | None = None) -> DataFrame:
        """Read an explicit file list. The stored schema (captured from the
        first appended DataFrame) is applied so partition-column types are
        exact — no directory-value inference (which would e.g. turn a
        'yyyy-MM-dd' string bucket into a DATE) and no footer merging."""
        # group by origin root: partition-column extraction needs basePath
        # to match the directory layout, and a shallow clone's manifest
        # mixes entries under the clone's root with entries still living
        # under the source's root (zero copy)
        by_base: dict[str, list[dict]] = {}
        for f in files:
            by_base.setdefault(f.get("base") or self.root, []).append(f)
        parts = []
        for base, fl in by_base.items():
            r = self.spark.read
            if schema is not None:
                r = r.schema(StructType.fromJson(schema))
            parts.append(
                r.option("basePath", base).parquet(
                    *[f"{base}/{f['path']}" for f in fl]
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def scan_arrow(self, files: list[dict], columns: list[str], filter=None):
        """Scan an explicit file list on the driver with pyarrow, one record
        batch at a time: no Spark job. Only columns stored IN the data files
        are readable (partition values live in the manifest entries);
        `filter` is a pyarrow.dataset expression, pushed to row-group stats.
        Files are scanned one after another: a whole-dataset scan reads
        ahead of a slow consumer without bound (pyarrow 16), so its memory
        grew with the files read; one file's batches bound it."""
        import pyarrow.dataset as ds

        dataset = ds.dataset([self._abs_entry(f) for f in files], format="parquet")
        for frag in dataset.get_fragments():
            yield from frag.to_batches(
                schema=dataset.schema, columns=columns, filter=filter
            )

    def append(
        self,
        df: DataFrame,
        partition_cols: tuple[str, ...] = (),
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
        before_commit: Callable[[list[dict]], None] | None = None,
    ) -> int:
        """Atomic multi-partition append. Data files land first (invisible),
        then one manifest commit flips them live. Losing a commit race is
        harmless for appends: re-read the new latest and retry the commit —
        the data files need no rewrite. CHECK constraints are validated
        against the constraint set of the head snapshot the commit is
        attempted against (re-validated inside the retry loop when a racing
        add_constraint() changed the set — otherwise the retried append
        would carry an unvalidated constraint forward onto rows it never
        checked).

        `txn=(app_id, version)` makes the append IDEMPOTENT per writer
        stream (the Delta SetTransaction contract for foreachBatch sinks):
        if the table has already committed a version >= `version` for
        `app_id`, the call is a NO-OP returning the current head — a
        retried streaming microbatch can never double-append. The
        committed (app_id -> version) map rides every manifest (carried
        forward like constraints), so the check is one head read.

        `before_commit(entries)` runs once on the staged, still invisible
        files, never for a txn already committed. Ingest indexes its paths
        there, so a path may be listed a few hundred ms before it lands."""
        if txn is not None:
            head0 = self.version()
            if (
                head0 is not None
                and (self.snapshot(head0).get("txns") or {}).get(txn[0], -1)
                >= txn[1]
            ):
                return head0  # already committed: skip staging entirely
        validated: dict = {}
        new = self._stage(df, partition_cols)
        if before_commit is not None:
            before_commit(new)
        for _ in range(max_retries):
            head = self.version()
            snap = self.snapshot(head)
            if (
                txn is not None
                and (snap.get("txns") or {}).get(txn[0], -1) >= txn[1]
            ):
                # a racer (or an earlier attempt whose commit landed but
                # whose success we never saw) already owns this txn:
                # reclaim the invisible staged data files and no-op
                for f in new:
                    Path(self.root, f["path"]).unlink(missing_ok=True)
                return head
            cons = snap.get("constraints") or {}
            fresh = {k: v for k, v in cons.items() if validated.get(k) != v}
            if fresh:
                self._violations(df, fresh)
                validated.update(fresh)
            stored = snap.get("schema")
            if stored is not None:
                known = {f["name"] for f in stored["fields"]}
                extra = [c for c in df.columns if c not in known]
                if extra:
                    raise ValueError(
                        f"append has columns {extra} not in the table schema; "
                        "evolve it first with alter_add_columns()"
                    )
            payload = {
                "op": "append",
                "add": new,
                "remove": [],
                "schema": stored or df.schema.jsonValue(),
            }
            if txn is not None:
                payload["txns"] = {**(snap.get("txns") or {}), txn[0]: txn[1]}
            try:
                return self._commit(head, payload)
            except CommitConflict:
                continue
        raise CommitConflict(f"append lost {max_retries} commit races")

    def version_as_of(self, ts: float) -> int:
        """Timestamp time travel: the latest version committed at or before
        ts (epoch seconds). Manifests missing a committed_at stamp (written
        before the feature) fall back to the manifest file's mtime."""
        best = None
        for v in self.versions():
            man = self._load(v)
            at = man.get("committed_at")
            if at is None:
                at = self._manifest_path(v).stat().st_mtime
            if at <= ts:
                best = v
        if best is None:
            raise ValueError(f"no snapshot committed at or before {ts}")
        return best

    # ------------------------------------------------------------ constraints

    @staticmethod
    def _violations(df: DataFrame, constraints: dict) -> None:
        """Raise if any row fails a CHECK constraint. Delta semantics: the
        expression must evaluate TRUE; NULL counts as a violation."""
        from pyspark.sql import functions as F

        for name, expr in (constraints or {}).items():
            n = df.filter(~F.coalesce(F.expr(expr), F.lit(False))).count()
            if n:
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated by {n} row(s)"
                )

    def add_constraint(self, name: str, expr: str) -> int:
        """Add a CHECK constraint (SQL boolean expression over the table
        columns). The CURRENT table must already satisfy it — validated
        with one scan — then a manifest-only commit records it; every
        subsequent append/merge validates incoming rows and raises on
        violation. Constraints ride commits like the schema does."""
        head = self.version()
        snap = self.snapshot(head)
        if snap.get("schema") is None:
            raise ValueError("cannot constrain an empty table: append first")
        cons = dict(snap.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        if snap["files"]:
            self._violations(
                self.read_files(snap["files"], schema=snap.get("schema")),
                {name: expr},
            )
        cons[name] = expr
        return self._commit(
            head,
            {
                "op": "alter",
                "add": [],
                "remove": [],
                "schema": snap["schema"],
                "constraints": cons,
            },
        )

    def drop_constraint(self, name: str) -> int:
        head = self.version()
        snap = self.snapshot(head)
        cons = dict(snap.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint named {name!r}")
        del cons[name]
        return self._commit(
            head,
            {
                "op": "alter",
                "add": [],
                "remove": [],
                "schema": snap.get("schema"),
                "constraints": cons,
            },
        )

    def alter_add_columns(self, schema: str | StructType) -> int:
        """Add-only schema evolution: widen the stored schema with new
        NULLABLE fields in one manifest-only commit (no data IO). Existing
        files simply lack the columns — the explicit read schema fills
        them with nulls; subsequent appends may carry them. Names must be
        new and fields nullable (a non-nullable add would be a lie about
        every existing row)."""
        from pyspark.sql.types import _parse_datatype_string

        add = (
            _parse_datatype_string(schema) if isinstance(schema, str) else schema
        )
        head = self.version()
        snap = self.snapshot(head)
        stored = snap.get("schema")
        if stored is None:
            raise ValueError("cannot alter an empty table: append first")
        known = {f["name"] for f in stored["fields"]}
        for f in add.fields:
            if f.name in known:
                raise ValueError(f"column {f.name!r} already exists")
            if not f.nullable:
                raise ValueError(
                    f"column {f.name!r} must be nullable: existing rows have no value"
                )
        widened = {
            **stored,
            "fields": stored["fields"] + [f.jsonValue() for f in add.fields],
        }
        return self._commit(
            head, {"op": "alter", "add": [], "remove": [], "schema": widened}
        )

    def restore(self, version: int) -> int:
        """Roll the table back to `version` as a NEW commit (Delta's
        RESTORE): history is kept — time travel to the bad versions still
        works until vacuum — and readers see the restored state
        atomically. The restored file list is committed as a full
        manifest, which the action-log replay treats as a RESET, so the
        commit is O(live files at `version`) — the same cost as one
        checkpoint — and needs no data IO (the old files still exist
        unless vacuumed; restoring past a vacuum raises).

        Reference: cassabon has no rollback at all (a bad ingest is
        permanent, datastore/metricmanager.go's write path); this is the
        table-format completion of the delete/merge/optimize family."""
        head = self.version()
        if head is None:
            raise ValueError("cannot restore an empty table")
        if version == head:
            return head
        snap = self.snapshot(version)  # raises if the chain was vacuumed
        missing = [
            f["path"] for f in snap["files"] if not Path(self._abs_entry(f)).exists()
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to version {version}: {len(missing)} data "
                f"file(s) were vacuumed (first: {missing[0]})"
            )
        return self._commit(
            head,
            {
                "op": "restore",
                "restored_version": version,
                "files": snap["files"],
                "schema": snap.get("schema"),
                "constraints": snap.get("constraints", {}),
            },
        )

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one record per commit, newest first —
        {version, op, committed_at, parent, n_add, n_remove} (full-manifest
        commits — legacy/restore/clone — report n_add as their file-list
        size and n_remove as None, since a reset's removal set is implicit).
        Driver-side metadata only; O(commit count) small-JSON reads."""
        out = []
        for v in reversed(self.versions()):
            m = self._load(v)
            full = "files" in m
            out.append(
                {
                    "version": v,
                    "op": m.get("op", "append"),
                    "committed_at": m.get("committed_at"),
                    "parent": m.get("parent"),
                    "n_add": len(m["files"] if full else m.get("add") or ()),
                    "n_remove": None if full else len(m.get("remove") or ()),
                }
            )
        return out

    def clone_to(self, target_root: str, version: int | None = None) -> "SnapshotTable":
        """Shallow CLONE (Delta's zero-copy clone): create a NEW table at
        `target_root` whose v0 manifest references THIS table's data files
        in place — no data is copied, so cloning a 100 TB table is one
        manifest write. Each adopted entry carries its origin root in
        "base"; the clone's reads group files by base (read_files), its
        writes land under its OWN root, and copy-on-write rewrites
        (delete/merge/optimize) drop adopted entries from the manifest
        without ever touching the source's files — the clone's vacuum only
        walks its own root, so source data is physically safe from the
        clone by construction. Caveat (same as Delta): the SOURCE's vacuum
        does not know about clones — vacuuming the source past the cloned
        snapshot breaks the clone's unrewritten entries. Pin the source
        snapshot (retain it) for as long as clones reference it."""
        snap = self.snapshot(version)
        if snap.get("schema") is None:
            raise ValueError("cannot clone an empty table")
        t = SnapshotTable(self.spark, target_root)
        if t.version() is not None:
            raise ValueError(f"clone target {target_root} already has commits")
        entries = [{**f, "base": f.get("base") or self.root} for f in snap["files"]]
        t._commit(
            None,
            {
                "op": "clone",
                "cloned_from": self.root,
                "cloned_version": self.version() if version is None else version,
                "files": entries,
                "schema": snap.get("schema"),
                "constraints": snap.get("constraints", {}),
            },
        )
        return t

    def read_changes(self, since_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental (CDC-lite) read: the rows APPENDED in
        (since_version, to_version]. Walks the manifest chain; append
        commits contribute their new files, compact/retention/alter
        contribute nothing (no new rows), and delete/merge raise — a
        rewrite changes history in a way a file-level diff can't
        represent, so the consumer must fall back to a full snapshot
        diff. This is the downstream-consumer contract for the streaming
        ingest workload (one append commit per microbatch). With action-log
        manifests the log IS the feed: an append commit's "add" list is
        exactly its new rows' files — no snapshot diffing."""
        to_v = self.version() if to_version is None else to_version
        if to_v is None or to_v <= since_version:
            snap = self.snapshot(to_v if to_v is not None else since_version)
            if snap.get("schema") is None:
                raise ValueError("empty table has no changes")
            return empty_frame(self.spark, StructType.fromJson(snap["schema"]))
        prev_paths: set | None = None  # only materialized for legacy manifests
        added: list[dict] = []
        for v in range(since_version + 1, to_v + 1):
            man = self._load(v)
            op = man.get("op", "append")
            if op in ("delete", "merge", "restore"):
                raise ValueError(
                    f"version {v} is a {op} commit: incremental append-diff "
                    "cannot represent row rewrites; re-read the snapshot"
                )
            if op == "append":
                if "add" in man:
                    added += man["add"]
                else:  # legacy full manifest: diff against the prior snapshot
                    if prev_paths is None:
                        prev_paths = {
                            f["path"] for f in self.snapshot(v - 1)["files"]
                        }
                    added += [f for f in man["files"] if f["path"] not in prev_paths]
            if "files" in man:
                prev_paths = {f["path"] for f in man["files"]}
            elif prev_paths is not None:
                prev_paths -= set(man.get("remove") or ())
                prev_paths |= {f["path"] for f in man.get("add") or ()}
        schema = self.snapshot(to_v).get("schema")
        if not added:
            return empty_frame(self.spark, StructType.fromJson(schema))
        return self.read_files(added, schema=schema)

    # ------------------------------------------------------------ mutations

    def delete_where(self, cond, partition_cols: tuple[str, ...] = ()) -> dict:
        """DELETE WHERE cond: rewrite ONLY the data files that contain hits
        (located via input_file_name — one scan), leave every other file
        untouched, commit one manifest swapping old files for rewrites.
        Readers on the old snapshot keep a complete, consistent table."""
        from pyspark.sql import functions as F

        head = self.version()
        snap = self.snapshot(head)
        if not snap["files"]:
            return {"deleted": 0, "rewritten_files": 0, "version": head}
        full = self.read_files(snap["files"], schema=snap.get("schema"))
        hits = (
            full.filter(cond)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        if not hits:
            return {"deleted": 0, "rewritten_files": 0, "version": head}
        n_deleted = sum(r["n"] for r in hits)
        hit_uris = {r["f"] for r in hits}
        hit_files = [f for f in snap["files"] if _uri_match(self._abs_entry(f), hit_uris)]
        # DELETE semantics: a NULL predicate is NOT a hit — keep those rows
        # (filter(~cond) alone would silently drop them)
        keep_cond = ~F.coalesce(cond, F.lit(False))
        remaining = self.read_files(hit_files, schema=snap.get("schema")).filter(keep_cond)
        new = self._stage(remaining, partition_cols) if not remaining.isEmpty() else []
        payload = {
            "op": "delete",
            "add": new,
            "remove": [f["path"] for f in hit_files],
            "schema": snap.get("schema"),
        }
        v = self._commit(head, payload)  # conflict -> caller retries the delete
        return {"deleted": n_deleted, "rewritten_files": len(hit_files), "version": v}

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        partition_cols: tuple[str, ...] = (),
    ) -> dict:
        """MERGE (upsert) by key — Delta-style `WHEN MATCHED UPDATE SET *
        WHEN NOT MATCHED INSERT *`, copy-on-write:

          1. locate ONLY the data files holding matched keys (one semi-join
             scan over the table, grouped by input_file_name);
          2. rewrite those files minus the matched rows, stage the full
             source alongside;
          3. one manifest commit swaps old files for the rewrites — readers
             on the previous snapshot keep a consistent table.

        Untouched files are never read or written, so merge cost scales
        with the files the keys land in, not the table (at 100 TB with
        time/partition-clustered keys that's the difference between a
        surgical rewrite and a full-table pass). The source must be
        key-unique (duplicate keys would make 'update' ambiguous) — raises
        ValueError otherwise. Returns {updated, inserted, replaced_rows,
        rewritten_files, version}."""
        from pyspark.sql import functions as F

        if not keys:
            raise ValueError("merge needs at least one key column")
        src = source.cache()
        try:
            n_src = src.count()
            if src.select(*keys).distinct().count() != n_src:
                raise ValueError("merge source has duplicate keys")
            # pin head FIRST, then validate against that snapshot's
            # constraint set: a constraint committed after this point takes
            # version head+1, which forces this merge's _commit into
            # CommitConflict — so a merge can never slip rows past a
            # constraint it did not validate.
            head = self.version()
            snap = self.snapshot(head)
            self._violations(src, snap.get("constraints"))
            if not snap["files"]:
                v = self.append(src, partition_cols)
                return {
                    "updated": 0,
                    "inserted": n_src,
                    "replaced_rows": 0,
                    "rewritten_files": 0,
                    "version": v,
                }
            full = self.read_files(snap["files"], schema=snap.get("schema"))
            src_keys = src.select(*keys).distinct()
            # bind input_file_name BEFORE the join: when the merge source is
            # itself file-backed the joined plan has two file sources and a
            # post-join input_file_name() is ambiguous (MULTI_SOURCES error)
            hits = (
                full.withColumn("__f", F.input_file_name())
                .join(src_keys, keys, "left_semi")
                .groupBy(F.col("__f").alias("f"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            n_replaced = sum(r["n"] for r in hits)
            hit_uris = {r["f"] for r in hits}
            hit_files = [
                f for f in snap["files"] if _uri_match(self._abs_entry(f), hit_uris)
            ]
            # a source key can match several table rows (pre-existing dup
            # keys): 'updated' counts source keys that matched, computed
            # against the HIT FILES only (never a second full-table scan)
            n_updated = (
                src.join(
                    self.read_files(hit_files, schema=snap.get("schema"))
                    .select(*keys)
                    .distinct(),
                    keys,
                    "left_semi",
                ).count()
                if hit_files
                else 0
            )
            survivors = (
                self.read_files(hit_files, schema=snap.get("schema")).join(
                    src_keys, keys, "left_anti"
                )
                if hit_files
                else None
            )
            rewritten = (
                survivors.unionByName(src.select(*full.columns))
                if survivors is not None
                else src
            )
            new = self._stage(rewritten, partition_cols)
            payload = {
                "op": "merge",
                "add": new,
                "remove": [f["path"] for f in hit_files],
                "schema": snap.get("schema"),
            }
            v = self._commit(head, payload)  # conflict -> caller retries
            return {
                "updated": n_updated,
                "inserted": n_src - n_updated,
                "replaced_rows": n_replaced,
                "rewritten_files": len(hit_files),
                "version": v,
            }
        finally:
            src.unpersist()

    def optimize(
        self,
        zorder_by: list[str],
        n_files: int = 16,
        partition_filter: Callable[[dict], bool] | None = None,
        partition_cols: tuple[str, ...] = (),
        bits: int = 8,
    ) -> int:
        """OPTIMIZE ZORDER BY: rewrite the selected partitions' files
        clustered by the Morton key of `zorder_by` (operators/layout.py) so
        the per-file footer stats become narrow on EVERY listed column at
        once — after this, read(prune=[(col, op, val)]) skips files for
        predicates on any of them. Envelope = one tiny global aggregate
        over the selected data; rewrite = repartitionByRange(n_files, z) +
        sortWithinPartitions(z); one manifest commit per run. Old files
        survive for older snapshots (vacuum reclaims).

        When the selected files live in a partitioned layout and the caller
        does not pass partition_cols, the partition keys are DERIVED from
        the selected entries so the rewrite preserves the layout — silently
        flattening it would break partition-keyed maintenance (retention
        predicates, engine.compact) on the rewritten files. Losing the
        commit race to a concurrent append rebases the keep-list against
        the new head and retries; a race that REWROTE any selected file
        (delete/merge/another optimize) surfaces as CommitConflict — our
        rewrite would resurrect rows the racer removed."""
        from pyspark.sql import functions as F

        from cassabon_spark.operators.layout import (
            linear_bucket_expr,
            zorder_key_expr,
        )

        head = self.version()
        snap = self.snapshot(head)
        files = snap["files"]
        if partition_filter is not None:
            files = [f for f in files if partition_filter(f["partition"])]
        if not files:
            return head if head is not None else 0
        # manifests serialize dicts with sort_keys, so the partition dict
        # loses directory order — recover layout order from the data paths
        # ('res=10/day=2020-01-01/x.parquet' -> ('res', 'day'))
        part_keysets = {
            tuple(
                seg.split("=", 1)[0] for seg in f["path"].split("/")[:-1] if "=" in seg
            )
            for f in files
        }
        if not partition_cols and part_keysets != {()}:
            if len(part_keysets) != 1:
                raise ValueError(
                    f"selected files carry mixed partition layouts {part_keysets}; "
                    "pass partition_cols explicitly"
                )
            partition_cols = next(iter(part_keysets))
        df = self.read_files(files, schema=snap.get("schema"))
        env = df.agg(
            *[
                a
                for c in zorder_by
                for a in (
                    F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                    F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
                )
            ]
        )
        clustered = df.crossJoin(F.broadcast(env))
        buckets = [
            linear_bucket_expr(
                F.col(c).cast("double"),
                F.col(f"__mn_{c}"),
                F.col(f"__mx_{c}"),
                bits,
            )
            for c in zorder_by
        ]
        clustered = (
            clustered.withColumn("__z", zorder_key_expr(buckets, bits))
            .drop(*[f"__mn_{c}" for c in zorder_by], *[f"__mx_{c}" for c in zorder_by])
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        new = self._stage(clustered, partition_cols)
        rewritten_paths = {f["path"] for f in files}
        payload = {
            "op": "compact",
            "add": new,
            "remove": sorted(rewritten_paths),
            "schema": snap.get("schema"),
        }
        for _ in range(5):
            try:
                return self._commit(head, payload)
            except CommitConflict:
                # optimize holds head across a long rewrite, so a racing
                # streaming-ingest append is likely: rebase against the new
                # head and retry — the action payload is unchanged (it only
                # names the files we rewrote). If a racer REWROTE any
                # selected file, committing would resurrect rows it removed
                # — surface the conflict instead.
                head = self.version()
                head_paths = {f["path"] for f in self.snapshot(head)["files"]}
                if not rewritten_paths <= head_paths:
                    raise
        raise CommitConflict("optimize lost 5 commit races")

    def rewrite_partition(
        self,
        partition: dict,
        transform: Callable[[DataFrame], DataFrame],
        partition_cols: tuple[str, ...] = (),
    ) -> int:
        """Replace one partition's files with transform(partition_df) —
        the compaction primitive. One manifest commit; old files survive
        for older snapshots."""
        part = {k: str(v) for k, v in partition.items()}
        head = self.version()
        snap = self.snapshot(head)
        old = [f for f in snap["files"] if f["partition"] == part]
        if not old:
            return head if head is not None else 0
        out = transform(self.read_files(old, schema=snap.get("schema")))
        new = self._stage(out, partition_cols)
        return self._commit(
            head,
            {
                "op": "compact",
                "add": new,
                "remove": [f["path"] for f in old],
                "schema": snap.get("schema"),
            },
        )

    def drop_partitions(self, pred: Callable[[dict], bool]) -> tuple[int, list[dict]]:
        """Retention sweep: drop every partition whose (string) values match
        pred — manifest-only, no data IO at all. Returns (version, dropped)."""
        head = self.version()
        snap = self.snapshot(head)
        dropped = sorted(
            {tuple(sorted(f["partition"].items())) for f in snap["files"] if pred(f["partition"])}
        )
        if not dropped:
            return (head if head is not None else 0, [])
        v = self._commit(
            head,
            {
                "op": "retention",
                "add": [],
                "remove": [f["path"] for f in snap["files"] if pred(f["partition"])],
                "schema": snap.get("schema"),
            },
        )
        return (v, [dict(d) for d in dropped])

    # ------------------------------------------------------------ maintenance

    def auto_compact(
        self,
        transform: Callable[[DataFrame], DataFrame],
        partition_cols: tuple[str, ...] = (),
        max_files_per_partition: int = 16,
        vacuum_retain: int = 16,
    ) -> int:
        """Threshold-triggered compaction: rewrite (via `transform`) every
        partition whose manifest file count exceeds the threshold, then
        vacuum manifests/files beyond the retain window so neither commit
        count nor small-file count grows without bound under streaming
        appends. The trigger check is driver-side over the in-memory
        manifest — a no-op costs one JSON read, no data IO.

        Returns the number of partitions compacted. Call it from the ingest
        foreachBatch (streaming.ingest does) or a maintenance cron.
        """
        snap = self.snapshot()
        counts: dict[tuple, dict] = {}
        for f in snap["files"]:
            key = tuple(sorted(f["partition"].items()))
            counts.setdefault(key, {"partition": f["partition"], "n": 0})
            counts[key]["n"] += 1
        hot = [c["partition"] for c in counts.values() if c["n"] > max_files_per_partition]
        for part in hot:
            try:
                self.rewrite_partition(part, transform, partition_cols=partition_cols)
            except CommitConflict:
                # a racing writer moved head; next batch's trigger retries
                break
        if hot and vacuum_retain > 0:
            # grace-windowed: this runs from the streaming foreachBatch hot
            # path, where a CONCURRENT writer (engine.compact cron, manual
            # append) may have staged/linked files whose manifest hasn't
            # committed yet — deleting them would leave a committed manifest
            # pointing at nothing (ADVICE r2 #3). Young files are exempt.
            self.vacuum(retain_last=vacuum_retain, grace_s=600)
        return len(hot)

    def vacuum(self, retain_last: int = 1, grace_s: int = 0) -> list[str]:
        """Physically delete data files referenced by NO retained snapshot
        (and prune manifests older than the retained window). Crash-orphaned
        staging output is reclaimed too. Returns deleted file paths.

        grace_s > 0 makes the sweep concurrent-writer safe: unreferenced
        data files and staging dirs YOUNGER than the grace window survive —
        they may belong to an in-flight append whose manifest commits next
        (staged files are hard-linked into place BEFORE the commit). An
        in-flight write older than the grace window is treated as crashed.
        The auto-compaction path always passes a grace window; grace_s=0
        (manual maintenance, single-writer) keeps full reclamation."""
        import shutil
        import time

        self._ckpt_flush()  # land any in-flight async checkpoint first
        vs = self.versions()
        retained = vs[-retain_last:] if (vs and retain_last > 0) else []
        live = {
            f["path"] for v in retained for f in self.snapshot(v)["files"]
        }
        # action-log manifests: the oldest retained version must stay
        # reconstructible after its ancestors' manifests are pruned — force
        # a checkpoint there first (idempotent if one already exists).
        # _write_checkpoint is best-effort by design everywhere ELSE (losing
        # a periodic checkpoint only costs replay depth); HERE its absence
        # would make every retained snapshot unreconstructible once the
        # ancestor manifests are unlinked, so verify it actually landed and
        # keep the ancestors if it did not (ADVICE r5).
        prune_manifests = True
        if retained and retained[0] > 0:
            if not self._ckpt_path(retained[0]).exists():
                self._write_checkpoint(retained[0], self._files_at(retained[0]))
            if not self._ckpt_path(retained[0]).exists():
                prune_manifests = False
        cutoff = time.time() - grace_s
        deleted = []

        def _walk(want_dirs=False):
            # os.walk instead of pathlib rglob (r13, found by
            # tools/multiwriter_soak.py: 3 of 5138 racing vacuums): a
            # CONCURRENT vacuum/compaction can delete a directory between
            # rglob's listing and its descent, making the generator raise
            # FileNotFoundError mid-iteration — and auto_compact calls
            # vacuum from the streaming hot path, so that crash would
            # abort a batch. os.walk skips vanished/unreadable dirs by
            # design (onerror defaults to ignore).
            import os as _os

            out = []
            for base, dirs, files in _os.walk(self.root):
                if want_dirs:
                    out.extend(Path(base, d) for d in dirs)
                else:
                    out.extend(
                        Path(base, f) for f in files if f.endswith(".parquet")
                    )
            return sorted(out)

        for p in _walk():
            rel = p.relative_to(self.root).as_posix()
            if rel.startswith((MANIFEST_DIR, STAGING_DIR)):
                continue
            if rel not in live:
                try:
                    if grace_s > 0 and p.stat().st_mtime >= cutoff:
                        continue  # possibly an uncommitted in-flight append
                    p.unlink()
                except FileNotFoundError:
                    continue  # racing vacuum/writer already handled it
                deleted.append(rel)
        # drop stale staging (whole dir when grace_s=0; per-write subdirs
        # older than the grace window otherwise), empty dirs, old manifests
        staging = Path(self.root, STAGING_DIR)
        if grace_s <= 0:
            shutil.rmtree(staging, ignore_errors=True)
        elif staging.is_dir():
            try:
                subs = list(staging.iterdir())
            except FileNotFoundError:
                subs = []  # a racing grace_s=0 vacuum removed staging
            for sub in subs:
                try:
                    newest = max(
                        (q.stat().st_mtime for q in sub.rglob("*") if q.is_file()),
                        default=sub.stat().st_mtime,
                    )
                    if newest < cutoff:
                        shutil.rmtree(sub, ignore_errors=True)
                except FileNotFoundError:
                    continue
        for d in sorted(_walk(want_dirs=True), reverse=True):
            try:
                if d.name == MANIFEST_DIR:
                    continue
                # the empty-dir sweep must honor the grace window too
                # (r13, found by tools/multiwriter_soak.py on its first
                # run): a Spark write committer creates MOMENTARILY-empty
                # _temporary dirs under _staging/<uuid>/ — rmdir'ing one
                # aborts the racing append's tasks (chmod on a vanished
                # dir). A dir touched inside the grace window may belong
                # to an in-flight write; a genuinely stale empty dir ages
                # past the cutoff and is reclaimed on a later sweep.
                if grace_s > 0 and d.stat().st_mtime >= cutoff:
                    continue
                if not any(d.iterdir()):
                    d.rmdir()
            except OSError:
                continue  # a racing writer repopulated / removed it
        if prune_manifests:
            for v in vs[:-retain_last] if retain_last > 0 else vs:
                self._manifest_path(v).unlink(missing_ok=True)
            # checkpoints older than the oldest retained version (or all of
            # them when nothing is retained) serve no snapshot — prune too
            floor_v = retained[0] if retained else (vs[-1] + 1 if vs else 0)
            for c in self._ckpt_versions():
                if c < floor_v:
                    self._ckpt_path(c).unlink(missing_ok=True)
        return deleted


def _uri_match(abs_path: str, uris: set[str]) -> bool:
    """input_file_name() yields a URI (file:///...); match on the path part."""
    return any(u.endswith(abs_path) or abs_path.endswith(u.removeprefix("file:")) for u in uris)


def _json_stat(v):
    """Parquet footer statistic -> JSON-storable value, or None when the
    type has no portable ordering story (then the file is never pruned on
    that column). Timestamps become 'YYYY-MM-DD HH:MM:SS[.ffffff]' strings,
    whose lexicographic order IS chronological order — predicates pass the
    same format."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None  # bool min/max prunes nothing useful; skip
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (bytes, bytearray)):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:  # normalize to naive UTC: no '+00:00' suffix,
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")  # so lexicographic order == time order
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _footer_stats(path) -> dict:
    """Per-file column min/max + row count from the parquet FOOTER the
    writer already produced — no data scan. Row-group stats merge by
    min-of-mins / max-of-maxes; a column missing stats in ANY row group
    (or holding only nulls) is dropped, so pruning stays conservative."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(str(path)).metadata
    mins: dict = {}
    maxs: dict = {}
    dead: set = set()
    for rg in range(md.num_row_groups):
        grp = md.row_group(rg)
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            name = col.path_in_schema
            if name in dead or "." in name:  # nested leaves: skip
                continue
            st = col.statistics
            jmin = _json_stat(st.min) if st is not None and st.has_min_max else None
            jmax = _json_stat(st.max) if st is not None and st.has_min_max else None
            if jmin is None or jmax is None:
                dead.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mins[name] = jmin if name not in mins else min(mins[name], jmin)
            maxs[name] = jmax if name not in maxs else max(maxs[name], jmax)
    return {"rows": md.num_rows, "min": mins, "max": maxs}


def _file_may_match(entry: dict, prune: list[tuple]) -> bool:
    """True unless the file's stats PROVE no row satisfies every predicate.
    Mixed/missing types or absent stats keep the file (conservative)."""
    stats = entry.get("stats") or {}
    mins, maxs = stats.get("min") or {}, stats.get("max") or {}
    for col, op, val in prune:
        lo, hi = mins.get(col), maxs.get(col)
        if lo is None or hi is None:
            continue  # no stats -> cannot prune on this column
        # only compare like types (numbers with numbers, strings with strings)
        num = isinstance(val, (int, float)) and not isinstance(val, bool)
        if num != isinstance(lo, (int, float)) or isinstance(lo, bool):
            continue
        if op == "=" and not (lo <= val <= hi):
            return False
        if op == ">=" and not (hi >= val):
            return False
        if op == ">" and not (hi > val):
            return False
        if op == "<=" and not (lo <= val):
            return False
        if op == "<" and not (lo < val):
            return False
    return True
