"""Snapshot-isolated lake table with epoch-fenced atomic commits.

An Iceberg stand-in (the sandbox image has no Iceberg jars): a directory of
immutable parquet data files grouped into hash buckets on the table key, plus
a JSON *manifest* per snapshot. The manifest is the single atomic commit unit
and carries — in one commit — the data-file list, the checkpoint
(epoch + resolved-ts), the schema registry, and per-bucket lineage. This
mirrors DM's "checkpoint flushed transactionally with data"
(dm/syncer/checkpoint.go:653-751 FlushPointsExcept) and TiCDC's epoch fencing
via idempotent replay (SURVEY.md §2.13 C1/C2).

Commit protocol (single-writer; a real deployment swaps in an Iceberg catalog
CAS commit):
  1. data files are written under ``data/<uuid>/_bucket=K/`` (never mutated);
  2. the manifest is created at ``_manifests/m{epoch:012d}.json`` with
     O_CREAT|O_EXCL — a replayed epoch finds the file exists and no-ops;
  3. ``_CURRENT`` is swapped via write-temp + os.rename (atomic on POSIX).

MERGE is copy-on-write at bucket granularity: only buckets containing changed
keys are rewritten; untouched buckets keep their existing files. Bucket count
is the scale knob — at 100 TB use thousands of buckets so an epoch touching
1% of keys rewrites ~1% of data (Iceberg CoW MERGE with bucket-partition
pruning behaves identically).

Schema evolution is metadata-only (like Iceberg): each data file records the
schema version it was written under; reads project every file group onto the
current version via the field-id registry (defaults for added columns,
renames resolved by id) — no rewrite on DDL.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflow_spark.model import evolve_cast
from tiflow_spark.registry import SchemaRegistry

BUCKET_COL = "_bucket"


def bucket_expr(key_cols, num_buckets: int):
    """Deterministic key→bucket hash; identical at CTAS and MERGE time so a
    key's bucket never moves (same role as TiCDC's index-value dispatcher,
    cdc/sink/dispatcher/partition/index_value.go:36-56)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast("int")


def _file_key_stats(path: str, key_cols) -> dict:
    """Per-file {col: {min, max, nulls, rows}} of the key columns, read
    from the parquet footer (row-group statistics — no data pages
    touched). Recorded in the manifest entry at write time so a
    partition-cut MERGE can prune files whose key ranges provably cannot
    satisfy the cut predicate (pruning.py).

    Sound by omission: a column whose footer lacks min/max in any
    non-all-NULL row group is left out of the dict, and the pruner then
    treats every predicate over it as possibly-matching. Parquet writers
    that truncate long binary stats adjust the truncated max upward, so
    recorded bounds remain valid bounds. Only JSON-native scalar types
    are kept (the key contract is string/int here; anything exotic
    degrades to no-stats, never to a wrong bound).

    Cost: one footer read per file written, driver-side — O(files per
    commit) ≈ max(cores, buckets), a few ms each. At thousands of files
    per commit, harvest these executor-side in the write job instead
    (Iceberg collects them in the writer for exactly this reason)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return {}
    schema = md.schema
    col_idx = {
        schema.column(i).path: i for i in range(md.num_columns)
    }
    out: dict[str, dict] = {}
    for c in key_cols:
        i = col_idx.get(c)
        if i is None:
            continue
        mn = mx = None
        nulls = rows = 0
        usable = True
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            st = group.column(i).statistics
            n_rows = group.num_rows
            rows += n_rows
            if st is None:
                usable = False
                break
            n_nulls = st.null_count if st.has_null_count else None
            if st.has_min_max:
                lo, hi = st.min, st.max
                ok = all(
                    isinstance(v, (int, float, str))
                    and not isinstance(v, bool)
                    for v in (lo, hi)
                )
                if not ok:
                    usable = False
                    break
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
                nulls += n_nulls or 0
            elif n_nulls == n_rows:
                nulls += n_nulls  # all-NULL row group: bounded, no values
            else:
                usable = False  # values exist but no bounds
                break
        if usable and rows > 0:
            out[c] = {"min": mn, "max": mx, "nulls": nulls, "rows": rows}
    return out


class CommitConflict(Exception):
    """Epoch fence violation (would-be lost update or out-of-order epoch)."""


class ChecksumDrift(Exception):
    """Downstream state no longer matches its committed checksums — the
    data files were modified outside the replication path (the condition
    DM's continuous validator exists to catch,
    dm/syncer/data_validator.go:62-196)."""


class LakeTable:
    def __init__(
        self,
        path: str,
        key_cols=("conv_id", "turn_idx"),
        num_buckets: int = 16,
        checksums: bool = False,
        lineage_keep: int = 64,
    ):
        """``checksums``: continuous downstream validation (DM's
        data_validator, dm/syncer/data_validator.go:62-196, reshaped for a
        snapshot store). Every commit records per-bucket {row count, content
        crc} in the manifest, computed by reading back the just-written
        files; every subsequent MERGE re-verifies the buckets it is about to
        fold new events onto — so out-of-band drift (a corrupted or manually
        edited data file) is detected the next time the bucket is touched,
        BEFORE the drift propagates into a new commit. ``verify_snapshot``
        audits the whole table point-in-time. Off by default: it adds one
        read-back scan of written buckets per commit and one verify scan of
        read buckets per merge.

        ``lineage_keep``: per-epoch lineage detail kept in the manifest.
        Lineage rows accumulate one per touched bucket per epoch; carrying
        the full history forever makes every commit rewrite an
        O(epochs × buckets) manifest — at 10^6 epochs the manifest itself
        becomes the bottleneck. Rows older than the newest ``lineage_keep``
        epochs compact into per-bucket cumulative totals
        (``lineage_totals``: summed applied_events, max commit_ts,
        through_epoch), so the accounting stays conservation-exact while
        the manifest stays O(lineage_keep × buckets)."""
        self.path = path
        self.key_cols = list(key_cols)
        self.num_buckets = num_buckets
        self.checksums = checksums
        self.lineage_keep = lineage_keep
        self._manifest_dir = os.path.join(path, "_manifests")
        self._current_ptr = os.path.join(path, "_CURRENT")

    # ------------------------------------------------------------- manifests
    def exists(self) -> bool:
        return os.path.exists(self._current_ptr)

    def current_manifest(self) -> dict | None:
        if not self.exists():
            return None
        with open(self._current_ptr) as f:
            name = f.read().strip()
        with open(os.path.join(self._manifest_dir, name)) as f:
            return json.load(f)

    def registry(self) -> SchemaRegistry:
        m = self.current_manifest()
        if m is None:
            raise FileNotFoundError(f"lake table {self.path} has no snapshot")
        return SchemaRegistry.from_json(m["registry"])

    def _commit(self, manifest: dict) -> bool:
        """Atomically publish a manifest. Returns False if this epoch was
        already committed (idempotent replay — C2 epoch fence)."""
        epoch = manifest["epoch"]
        cur = self.current_manifest()
        if cur is not None:
            if cur["epoch"] >= epoch:
                return False  # already applied: replay is a no-op
            if cur["epoch"] != epoch - 1:
                raise CommitConflict(
                    f"epoch gap: current={cur['epoch']}, committing={epoch}"
                )
        os.makedirs(self._manifest_dir, exist_ok=True)
        name = f"m{epoch:012d}.json"
        mpath = os.path.join(self._manifest_dir, name)
        payload = json.dumps(manifest, indent=1).encode()
        try:
            fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            # orphan of a crashed commit attempt (pointer was never swapped):
            # safe to replace under the single-writer assumption
            os.remove(mpath)
            fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        tmp = self._current_ptr + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._current_ptr)  # atomic pointer swap
        return True

    # ----------------------------------------------------------------- write
    def _write_partitioning(self, spark_df: DataFrame):
        """(n_tasks, within-bucket salt expr) for snapshot writes.

        Write parallelism is NOT capped at the bucket count, but the salt
        is *within-bucket*: each bucket splits into at most
        ceil(cores / num_buckets) sub-partitions, so files per commit stay
        ~= max(cores, num_buckets). Hashing on the raw key instead (the
        round-2 regression) scattered every bucket across every task —
        tasks × buckets files per commit (32 → 1024 measured), a
        small-file/metadata explosion that at 1000 buckets × 1000 tasks
        would mean 10^6 files per epoch. On a wide cluster
        ceil(cores/buckets) > 1 still splits each hot bucket; at
        cores == buckets the salt is constant and partitioning degenerates
        to pure bucket hashing (one file per bucket)."""
        try:
            cores = spark_df.sparkSession.sparkContext.defaultParallelism
        except Exception:  # Spark Connect
            cores = self.num_buckets
        n_tasks = max(self.num_buckets, cores)
        splits_per_bucket = -(-cores // self.num_buckets)  # ceil
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols], F.lit(77)),
            F.lit(splits_per_bucket),
        )
        return n_tasks, salt

    def _write_data(
        self,
        df: DataFrame,
        schema_version: int,
        pre_partitioned: bool = False,
        commit_id: str | None = None,
    ) -> list[dict]:
        """Write a bucketed snapshot fragment; return manifest file entries.

        ``pre_partitioned``: the caller already clustered ``df`` by
        (bucket, within-bucket salt) — e.g. merge()'s single-exchange LWW
        pick, whose grouping keys start with exactly that pair — so the
        write-side repartition would be a redundant full shuffle of the
        snapshot (explicit repartitions are never elided by Catalyst).

        ``commit_id``: caller-fixed fragment id (the resumable bootstrap
        records it BEFORE writing so a crashed attempt's orphan directory
        can be cleaned up on resume)."""
        commit_id = commit_id or uuid.uuid4().hex
        out = os.path.join(self.path, "data", commit_id)
        if BUCKET_COL not in df.columns:
            df = df.withColumn(BUCKET_COL, bucket_expr(self.key_cols, self.num_buckets))
        if not pre_partitioned:
            n_tasks, salt = self._write_partitioning(df)
            df = df.repartition(n_tasks, F.col(BUCKET_COL), salt)
        df.write.partitionBy(BUCKET_COL).mode("error").parquet(out)
        entries = []
        for root, _dirs, files in os.walk(out):
            base = os.path.basename(root)
            if not base.startswith(f"{BUCKET_COL}="):
                continue
            bucket = int(base.split("=")[1])
            for fn in files:
                if fn.endswith(".parquet"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, self.path)
                    entries.append(
                        {
                            "path": rel,
                            "bucket": bucket,
                            "schema_version": schema_version,
                            # per-file key-column min/max (Iceberg
                            # write-time metrics analogue) — lets a
                            # partition-cut MERGE prove a file untouched
                            # and skip its rewrite (see pruning.py)
                            "stats": _file_key_stats(full, self.key_cols),
                        }
                    )
        return entries

    # ------------------------------------------------------------ checksums
    def _bucket_checksums(self, df: DataFrame, payload_names) -> dict:
        """Per-bucket {rows, crc} over ``key_cols + payload_names``.

        Row canonical form is ``to_json(struct(cols), ignoreNullFields=false)``
        (deterministic field order, NULLs kept so (a, NULL) ≠ (NULL, a)),
        hashed with xxhash64 and summed per bucket — an order-independent
        content digest. The sum runs in decimal(38,0) (ANSI-safe: a long sum
        of 2^63-scale hashes would overflow) and is stored mod 2^64. The
        bucket is recomputed from the key (``bucket_expr``), so a corruption
        that rewrites a key still perturbs some bucket's digest. One
        groupBy(bucket) with map-side partial aggregation — no shuffle wider
        than num_buckets rows."""
        cols = [*self.key_cols, *payload_names]
        h = F.xxhash64(
            F.to_json(
                F.struct(*[F.col(c) for c in cols]),
                {"ignoreNullFields": "false"},
            )
        )
        rows = (
            df.withColumn(BUCKET_COL, bucket_expr(self.key_cols, self.num_buckets))
            .groupBy(BUCKET_COL)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(h.cast("decimal(38,0)")).alias("crc"),
            )
            .collect()
        )
        return {
            str(r[BUCKET_COL]): {"rows": int(r["rows"]),
                                 "crc": str(int(r["crc"]) % (1 << 64))}
            for r in rows
        }

    def _checksums_of_entries(
        self, spark: SparkSession, registry: SchemaRegistry, entries: list[dict]
    ) -> dict:
        """Recompute per-bucket checksums from on-disk manifest entries.
        Files are read RAW at the version they were written under (one scan
        per distinct version — CoW rewrites whole buckets, so a bucket is
        single-version) over exactly the columns the write-side digest used."""
        by_version: dict[int, list[str]] = {}
        for e in entries:
            by_version.setdefault(e["schema_version"], []).append(
                os.path.join(self.path, e["path"])
            )
        got: dict[str, dict] = {}
        for v, paths in sorted(by_version.items()):
            names = [f.name for f in registry.get(v).fields]
            got.update(self._bucket_checksums(spark.read.parquet(*paths), names))
        return got

    def _verify_entries(
        self, spark: SparkSession, manifest: dict, entries: list[dict], when: str
    ) -> int:
        """Compare on-disk content of ``entries`` against the manifest's
        committed checksums; raise ChecksumDrift on any divergence. Buckets
        without a committed digest (table predates the knob) are skipped —
        coverage grows as buckets are touched. Returns buckets checked."""
        stored = manifest.get("checksums") or {}
        want = {
            b: stored[b]
            for b in {str(e["bucket"]) for e in entries}
            if b in stored
        }
        if not want:
            return 0
        registry = SchemaRegistry.from_json(manifest["registry"])
        checked = [e for e in entries if str(e["bucket"]) in want]
        got = self._checksums_of_entries(spark, registry, checked)
        drift = []
        for b, w in sorted(want.items(), key=lambda kv: int(kv[0])):
            g = got.get(b, {"rows": 0, "crc": "0"})
            if g["rows"] != w["rows"] or g["crc"] != w["crc"]:
                drift.append(
                    f"bucket {b}: rows {g['rows']}!={w['rows']} "
                    f"crc {g['crc']}!={w['crc']}"
                )
        if drift:
            raise ChecksumDrift(
                f"{self.path} {when}: {len(drift)} bucket(s) diverged from "
                f"their committed checksums — downstream was modified outside "
                f"replication: {'; '.join(drift[:8])}"
            )
        return len(want)

    def verify_snapshot(self, spark: SparkSession, manifest: dict | None = None) -> dict:
        """Point-in-time audit: every live data file vs the committed
        per-bucket checksums (the validator's full-table mode; per-epoch
        incremental mode is the MERGE-time verify)."""
        m = manifest or self.current_manifest()
        if m is None:
            raise FileNotFoundError(f"lake table {self.path} has no snapshot")
        checked = self._verify_entries(spark, m, m["files"], "verify_snapshot")
        return {
            "ok": True,
            "buckets_checked": checked,
            "buckets_uncovered": len({e["bucket"] for e in m["files"]}) - checked,
            "epoch": m["epoch"],
        }

    def create(
        self,
        spark: SparkSession,
        df: DataFrame,
        registry: SchemaRegistry,
        checkpoint_ts: int = 0,
        checkpoint_seq: int = -1,
    ) -> None:
        """CTAS — the full-dump loader analogue (dm/loader/loader.go:710)."""
        if self.exists():
            raise FileExistsError(f"lake table {self.path} already exists")
        files = self._write_data(df, registry.current.version)
        checksums = (
            self._checksums_of_entries(spark, registry, files)
            if self.checksums
            else None
        )
        key_types = {
            f.name: f.dataType.simpleString()
            for f in df.schema.fields
            if f.name in self.key_cols
        }
        manifest = {
            "epoch": 0,
            "checkpoint_ts": checkpoint_ts,
            "checkpoint_seq": checkpoint_seq,
            "key_types": [key_types[k] for k in self.key_cols],
            "schema_version": registry.current.version,
            "registry": registry.to_json(),
            "key_cols": self.key_cols,
            "num_buckets": self.num_buckets,
            "files": files,
            "lineage": [],
        }
        if checksums is not None:
            manifest["checksums"] = checksums
        assert self._commit(manifest)

    # ------------------------------------------------- resumable bootstrap
    def create_resumable(
        self,
        spark: SparkSession,
        chunks: list[list[str]],
        registry: SchemaRegistry,
        checkpoint_ts: int = 0,
        checkpoint_seq: int = -1,
    ) -> int:
        """Chunked CTAS with per-chunk completion checkpoints — DM's loader
        checkpoint (dm/loader/checkpoint.go, dm/loader/loader.go:287,710
        records per-data-file progress and resumes a crashed dump restore
        exactly). ``chunks``: input parquet file groups; each completed
        chunk's manifest entries are recorded atomically in a ``_BOOTSTRAP``
        sidecar, so a crash at chunk k resumes at chunk k instead of
        rewriting the whole dump (at 100 TB, all-or-nothing CTAS means a
        crash at 99% restarts from zero). Each chunk is still a fully
        distributed bucketed write; chunk count bounds redo work, not
        parallelism. Returns the number of chunks (re)written this call.

        Crash safety: the chunk's fragment id is recorded as in-flight
        BEFORE the write, so a half-written orphan directory from a crashed
        attempt is deleted on resume (Iceberg remove_orphan_files analogue);
        the final manifest commit makes the table visible atomically, and
        the sidecar is removed after it."""
        if self.exists():
            raise FileExistsError(f"lake table {self.path} already exists")
        if not chunks:
            raise ValueError("create_resumable: chunks must be non-empty")
        state_fp = os.path.join(self.path, "_BOOTSTRAP")
        # chunk checkpoints are positional — a resume with a different
        # chunking (changed bootstrap-chunk-files, or new dump files) would
        # silently skip the wrong chunks, so the plan is fingerprinted
        import hashlib

        plan_fp = hashlib.md5(
            json.dumps(chunks, sort_keys=True).encode()
        ).hexdigest()
        state = {"done": {}, "inflight": None, "key_types": None,
                 "plan_fp": plan_fp}
        if os.path.exists(state_fp):
            with open(state_fp) as f:
                state = json.load(f)
            if state.get("plan_fp") is None:
                # legacy sidecar written before plans were fingerprinted:
                # the plan cannot have been verified, but refusing would
                # force a restart under a misleading "plan changed" message
                # — backfill the fingerprint and resume (the caller passing
                # the same chunk_files is the legacy-era contract)
                state["plan_fp"] = plan_fp
            elif state["plan_fp"] != plan_fp:
                raise ValueError(
                    "create_resumable: chunk plan changed since the crashed "
                    "attempt (different chunk_files or input file list) — "
                    "completed-chunk checkpoints are positional and cannot "
                    "be reused; remove the partial table to restart"
                )
        if state.get("inflight"):
            # crashed mid-chunk: remove the orphan fragment, then redo it
            import shutil

            shutil.rmtree(
                os.path.join(self.path, "data", state["inflight"]),
                ignore_errors=True,
            )
            state["inflight"] = None

        def _persist() -> None:
            os.makedirs(self.path, exist_ok=True)
            tmp = state_fp + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(state, f)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, state_fp)

        written = 0
        for i, files in enumerate(chunks):
            key = str(i)
            if key in state["done"]:
                continue  # chunk completed by a previous attempt
            df = spark.read.parquet(*files)
            if state["key_types"] is None:
                state["key_types"] = [
                    next(
                        f.dataType.simpleString()
                        for f in df.schema.fields
                        if f.name == k
                    )
                    for k in self.key_cols
                ]
            commit_id = uuid.uuid4().hex
            state["inflight"] = commit_id
            _persist()
            entries = self._write_data(
                df, registry.current.version, commit_id=commit_id
            )
            state["done"][key] = entries
            state["inflight"] = None
            _persist()
            written += 1
        all_files = [e for k in sorted(state["done"], key=int)
                     for e in state["done"][k]]
        manifest = {
            "epoch": 0,
            "checkpoint_ts": checkpoint_ts,
            "checkpoint_seq": checkpoint_seq,
            "key_types": state["key_types"],
            "schema_version": registry.current.version,
            "registry": registry.to_json(),
            "key_cols": self.key_cols,
            "num_buckets": self.num_buckets,
            "files": all_files,
            "lineage": [],
        }
        if self.checksums:
            # one read-back over the finished dump — the initial full audit
            # baseline (cheap relative to the dump itself, and it runs after
            # a resume too since it is keyed off the final file list)
            manifest["checksums"] = self._checksums_of_entries(
                spark, registry, all_files
            )
        assert self._commit(manifest)
        os.remove(state_fp)
        return written

    # ------------------------------------------------------------------ read
    def read(self, spark: SparkSession, manifest: dict | None = None) -> DataFrame:
        """Current snapshot projected onto the current schema version.

        Files are grouped by the schema version they were written under and
        each group is projected via the field-id registry (rename-safe,
        defaults for later-added columns) — the Iceberg read-path semantics;
        cdc/entry/mounter.go:515-551 default-fill analogue.
        """
        m = manifest or self.current_manifest()
        if m is None:
            raise FileNotFoundError(f"lake table {self.path} has no snapshot")
        registry = SchemaRegistry.from_json(m["registry"])
        cur = registry.get(m["schema_version"])
        by_version: dict[int, list[str]] = {}
        for e in m["files"]:
            by_version.setdefault(e["schema_version"], []).append(
                os.path.join(self.path, e["path"])
            )
        if not by_version:
            # freshly-truncated table: no data files, schema-only snapshot.
            # key_types is recorded at create(); a manifest without it cannot
            # be reconstructed safely — fail loudly rather than guess types.
            key_types = m.get("key_types")
            if not key_types:
                raise ValueError(
                    f"lake table {self.path}: empty snapshot has no key_types "
                    "in its manifest; cannot derive an empty-table schema"
                )
            ddl = ", ".join(
                [f"`{k}` {t}" for k, t in zip(self.key_cols, key_types)]
                + [f"`{f.name}` {f.type}" for f in cur.fields]
            )
            return spark.createDataFrame([], ddl)
        parts = []
        for v, paths in sorted(by_version.items()):
            df = spark.read.parquet(*paths)
            cols = [F.col(c) for c in self.key_cols]
            for dst_name, src_name, default in registry.projection(v, cur.version):
                ftype = next(f.type for f in cur.fields if f.name == dst_name)
                if src_name is not None:
                    # evolve_cast covers modify_column: files written under
                    # the old type evolve at read time, like every other
                    # ALTER — null on malformed (ANSI cast would abort the
                    # scan), double-fallback for integral targets, same rule
                    # as the decode path so both sides agree with the oracle
                    cols.append(
                        evolve_cast(F.col(src_name), ftype).alias(dst_name)
                    )
                else:
                    cols.append(F.lit(default).cast(ftype).alias(dst_name))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def manifest_for_epoch(self, epoch: int) -> dict:
        """Historical manifest (snapshot time-travel handle); GC'd epochs
        raise FileNotFoundError."""
        with open(os.path.join(self._manifest_dir, f"m{epoch:012d}.json")) as f:
            return json.load(f)

    def read_at_syncpoint(self, spark: SparkSession, primary_ts: int) -> DataFrame:
        """Downstream state at a recorded sync point: the snapshot whose
        manifest logged ``primary_ts`` — exactly comparable with the
        upstream at that ts (TiCDC sync-point diff workflow,
        cdc/owner/changefeed.go:271-272)."""
        m = self.current_manifest()
        if m is None:
            raise FileNotFoundError(f"lake table {self.path} has no snapshot")
        sp = next(
            (s for s in m.get("syncpoints", []) if s["primary_ts"] == primary_ts),
            None,
        )
        if sp is None:
            raise KeyError(f"no sync point recorded at primary_ts={primary_ts}")
        return self.read(spark, self.manifest_for_epoch(sp["epoch"]))

    def lineage_totals(self) -> dict:
        """Per-bucket cumulative lineage for epochs compacted out of the
        detail window: {bucket: {applied_events, max_commit_ts,
        through_epoch}}. totals + ``lineage()`` detail = the full history
        (conservation-exact)."""
        m = self.current_manifest()
        return dict((m or {}).get("lineage_totals", {}))

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage rows (FIXTURES.md F4) from manifest
        history — per-epoch detail for the newest ``lineage_keep`` epochs;
        older epochs live compacted in ``lineage_totals()``."""
        m = self.current_manifest()
        rows = []
        if m:
            for ln in m.get("lineage", []):
                rows.append(
                    (
                        int(ln["epoch"]),
                        int(ln["bucket"]),
                        int(ln["applied_events"]),
                        int(ln["max_commit_ts"]),
                    )
                )
        return spark.createDataFrame(
            rows, "epoch int, partition_id int, applied_events long, max_resolved_ts long"
        )

    # -------------------------------------------------------------------- gc
    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """GC safepoint management (C4, cdc/owner/changefeed.go:253-270 +
        Iceberg ``expire_snapshots``): drop manifests older than the last
        ``keep_last`` epochs and delete data files no surviving manifest
        references. The current manifest is never touched, so readers and
        the resume path (which only need the current checkpoint) are safe;
        ``keep_last >= 2`` preserves one rollback point.
        """
        cur = self.current_manifest()
        if cur is None:
            return {"removed_manifests": 0, "removed_files": 0}
        keep_last = max(keep_last, 1)
        floor = cur["epoch"] - keep_last + 1
        names = sorted(os.listdir(self._manifest_dir))
        keep, drop = [], []
        for name in names:
            epoch = int(name[1:].split(".")[0])
            (keep if epoch >= floor else drop).append(name)
        live: set[str] = set()
        for name in keep:
            with open(os.path.join(self._manifest_dir, name)) as f:
                for e in json.load(f)["files"]:
                    live.add(e["path"])
        removed_files = 0
        for name in drop:
            with open(os.path.join(self._manifest_dir, name)) as f:
                for e in json.load(f)["files"]:
                    p = e["path"]
                    if p not in live:
                        fp = os.path.join(self.path, p)
                        if os.path.exists(fp):
                            os.remove(fp)
                            removed_files += 1
            os.remove(os.path.join(self._manifest_dir, name))
        return {"removed_manifests": len(drop), "removed_files": removed_files}

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        epoch: int,
        checkpoint_ts: int,
        registry: SchemaRegistry,
        lineage_rows: list[dict] | None = None,
        affected_buckets: list[int] | None = None,
        checkpoint_seq: int | None = None,
        truncate: bool = False,
        delete_where: str | None = None,
        syncpoint: bool = False,
    ) -> bool:
        """Epoch MERGE: LWW upsert + delete, copy-on-write per bucket.

        ``truncate=True``: the epoch carried a TRUNCATE TABLE — every
        existing row is dropped (no bucket is kept, no survivors are read)
        and only the post-truncate upserts land
        (cdc/entry/schema_storage.go:619-631 tombstone analogue).

        ``delete_where``: the epoch carried DROP/TRUNCATE PARTITION — a SQL
        predicate over the key columns; existing rows matching it are
        dropped (cdc/entry/schema_storage.go:632-636 partition-swap
        analogue). Buckets whose files' recorded key-column min/max stats
        prove the predicate unsatisfiable (and that carry no DML this
        epoch) are kept verbatim — file-stats pruning, pruning.py; the
        rest are read, filtered, and rewritten. Worst case (no stats or
        an unanalyzable predicate) degrades to one snapshot-sized CoW
        pass for the rare DDL epoch.

        ``changes`` must hold exactly one row per key: the key columns, an
        ``op`` column ('D' = delete, anything else = upsert), and the payload
        columns of ``registry.current``. Equivalent to Iceberg
        ``MERGE INTO target USING changes ON key WHEN MATCHED AND op='D' THEN
        DELETE WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED AND op<>'D'
        THEN INSERT *`` (cdc/sink/mysql.go:609-706 prepared-DML analogue,
        idempotent by construction).

        Returns False when the epoch was already committed (fenced replay).
        """
        m = self.current_manifest()
        if m is None:
            raise FileNotFoundError("merge target does not exist — create() first")
        if m["epoch"] >= epoch:
            return False  # fence: epoch already applied, skip all work
        cur_version = registry.current.version
        payload_names = [f.name for f in registry.current.fields]

        if BUCKET_COL not in changes.columns:
            changes = changes.withColumn(
                BUCKET_COL, bucket_expr(self.key_cols, self.num_buckets)
            )
        # small collect: at most num_buckets values (partition pruning);
        # callers that already know the touched buckets (the engine derives
        # them from the lineage agg) skip this job entirely
        if affected_buckets is not None:
            affected = sorted(set(affected_buckets))
        else:
            affected = sorted(
                r[0] for r in changes.select(BUCKET_COL).distinct().collect()
            )
        affected_set = set(affected)
        if truncate:
            keep_files, read_files = [], []  # wipe: nothing kept, nothing read
        elif delete_where is not None:
            # partition cut: file-stats pruning (pruning.py, the Iceberg
            # InclusiveMetricsEvaluator analogue). A bucket is kept intact
            # only when it carries no DML this epoch AND every one of its
            # files' key-column [min,max] ranges provably cannot satisfy
            # the cut predicate; anything unprovable is read and rewritten.
            # Granularity is per bucket, not per file: CoW, the per-bucket
            # checksums, and the one-row-per-key invariant are all
            # bucket-atomic, so a partial-bucket keep could duplicate a
            # key or orphan a digest. Without stats (legacy manifests or
            # an unanalyzable predicate) this degrades to the former
            # full-snapshot pass.
            from tiflow_spark.pruning import PrunePredicate

            pred = PrunePredicate(delete_where, self.key_cols)
            by_bucket: dict[int, list[dict]] = {}
            for e in m["files"]:
                by_bucket.setdefault(e["bucket"], []).append(e)
            keep_files, read_files = [], []
            for b, group in by_bucket.items():
                if b not in affected_set and not any(
                    pred.may_match(e.get("stats")) for e in group
                ):
                    keep_files.extend(group)
                else:
                    read_files.extend(group)
        else:
            keep_files = [e for e in m["files"] if e["bucket"] not in affected_set]
            read_files = [e for e in m["files"] if e["bucket"] in affected_set]

        if self.checksums and read_files:
            # continuous validation (dm/syncer/data_validator.go:62-196):
            # before folding this epoch's events onto the buckets it touches,
            # confirm their on-disk content still matches the checksums the
            # LAST commit recorded — out-of-band drift is refused here,
            # before it can propagate into a new commit
            self._verify_entries(spark, m, read_files, f"epoch {epoch} merge")

        upserts = changes.filter(F.col("op") != "D").select(
            *self.key_cols, *payload_names, BUCKET_COL
        )
        if read_files:
            # project existing rows onto the *incoming* registry version:
            # when this epoch carried a DDL, old files evolve at read time
            # (defaults for added columns, renames by field id) — the
            # metadata-only ALTER (K9/D5)
            existing = self.read(
                spark,
                {
                    **m,
                    "files": read_files,
                    "registry": registry.to_json(),
                    "schema_version": cur_version,
                },
            )
            if delete_where is not None:
                # key-column predicate → stays in the parquet scan (pushdown).
                # NULL-keep: a row the predicate cannot evaluate is not in
                # the dropped partition (oracle's _keys_matching semantics)
                existing = existing.filter(
                    ~F.coalesce(F.expr(delete_where), F.lit(False))
                )
            # Single-exchange MERGE: bucket and salt are pure functions of
            # the key, so ONE repartition on (bucket, salt) co-locates
            # every key's rows AND is exactly the clustering the snapshot
            # write needs. The LWW pick then runs in place — grouping on
            # (bucket, salt, *keys) is satisfied by the subset partitioning
            # (rows equal on all grouping keys are equal on bucket/salt) —
            # so snapshot + changes cross one exchange, where an anti-join
            # (an exchange of the snapshot by key) followed by the write
            # repartition (a second full exchange of the union) needs two.
            # ≤ 2 rows per key (changes is one-row-per-key by contract, the
            # snapshot holds one row per key), and the epoch's row always
            # wins via max_by on the priority flag; 'D' winners erase the
            # key.
            ch = changes.select(
                *self.key_cols, "op", *payload_names, BUCKET_COL
            ).withColumn("_prio", F.lit(1))
            ex = (
                existing.select(*self.key_cols, *payload_names)
                .withColumn("op", F.lit("E"))
                .withColumn(
                    BUCKET_COL, bucket_expr(self.key_cols, self.num_buckets)
                )
                .withColumn("_prio", F.lit(0))
            )
            unioned = ex.unionByName(ch)
            n_tasks, salt = self._write_partitioning(unioned)
            winner = (
                unioned.withColumn("_salt", salt)
                .repartition(n_tasks, F.col(BUCKET_COL), F.col("_salt"))
                .groupBy(BUCKET_COL, "_salt", *self.key_cols)
                .agg(
                    F.max_by(
                        F.struct("op", *payload_names), F.col("_prio")
                    ).alias("_w")
                )
            )
            new_data = (
                winner.filter(F.col("_w.op") != "D")
                .select(
                    *self.key_cols,
                    *[F.col(f"_w.{c}").alias(c) for c in payload_names],
                    BUCKET_COL,
                )
            )
            new_files = self._write_data(
                new_data, cur_version, pre_partitioned=True
            )
        else:
            new_files = self._write_data(upserts, cur_version)

        checksums = None
        if self.checksums:
            # read back what was just written (the digest is over the bytes
            # readers will see); kept buckets carry their digests forward —
            # truncate wipes everything (keep_files empty), and a
            # partition cut keeps only whole stats-pruned buckets, whose
            # content (and therefore digest) is unchanged by construction
            kept_buckets = {str(e["bucket"]) for e in keep_files}
            prev = m.get("checksums") or {}
            checksums = {b: prev[b] for b in kept_buckets if b in prev}
            checksums.update(
                self._checksums_of_entries(spark, registry, new_files)
            )

        lineage = list(m.get("lineage", []))
        for ln in lineage_rows or []:
            lineage.append({"epoch": epoch, **ln})
        # bounded lineage: compact rows older than the keep window into
        # per-bucket cumulative totals (conservation-exact; see __init__)
        totals = dict(m.get("lineage_totals", {}))
        keep_from = epoch - self.lineage_keep + 1
        if any(r["epoch"] < keep_from for r in lineage):
            kept = []
            for r in lineage:
                if r["epoch"] >= keep_from:
                    kept.append(r)
                    continue
                b = str(r["bucket"])
                t = totals.get(
                    b,
                    {"applied_events": 0, "max_commit_ts": -1,
                     "through_epoch": -1},
                )
                totals[b] = {
                    "applied_events": t["applied_events"] + r["applied_events"],
                    "max_commit_ts": max(t["max_commit_ts"], r["max_commit_ts"]),
                    "through_epoch": max(t["through_epoch"], r["epoch"]),
                }
            lineage = kept
        # sync points (TiCDC syncpoint_v1 analogue): this epoch's snapshot
        # IS the downstream state at exactly primary_ts — record the pair
        # so upstream@primary_ts and read_at_epoch(epoch) can be diffed
        syncpoints = list(m.get("syncpoints", []))
        if syncpoints:
            # a sync point whose manifest was GC'd is unreadable
            # (read_at_syncpoint -> manifest_for_epoch would fail) — drop
            # dead entries so the list tracks the GC retention window
            # instead of growing forever; one name listing per commit
            live = {
                int(n[1:].split(".")[0]) for n in os.listdir(self._manifest_dir)
            }
            syncpoints = [s for s in syncpoints if s["epoch"] in live]
        if syncpoint:
            syncpoints.append({"primary_ts": checkpoint_ts, "epoch": epoch})
        manifest = {
            "epoch": epoch,
            "checkpoint_ts": checkpoint_ts,
            # seq of the resolved-ts promise backing this checkpoint: on
            # resume, any event with seq beyond it but commit_ts at/below the
            # checkpoint is a resolved-contract violation (lost-event guard).
            # When the caller advances checkpoint_ts without supplying a seq,
            # inheriting the old seq would fabricate a promise
            # (old_seq, new_ts) that was never made and trip a false
            # ResolvedTsRegression on the next validated run — reset to -1
            # (no promise) instead; same-ts commits keep the prior promise.
            "checkpoint_seq": (
                checkpoint_seq
                if checkpoint_seq is not None
                else (
                    m.get("checkpoint_seq", -1)
                    if checkpoint_ts == m.get("checkpoint_ts")
                    else -1
                )
            ),
            "schema_version": cur_version,
            "registry": registry.to_json(),
            "key_cols": self.key_cols,
            "key_types": m.get("key_types"),
            "num_buckets": self.num_buckets,
            "files": keep_files + new_files,
            "lineage": lineage,
            "lineage_totals": totals,
            "syncpoints": syncpoints,
        }
        if checksums is not None:
            manifest["checksums"] = checksums
        return self._commit(manifest)
