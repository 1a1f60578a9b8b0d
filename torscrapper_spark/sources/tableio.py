"""Versioned snapshot tables with an atomic manifest commit point.

The north rule requires per-wave checkpoints of frontier + seen-filter
state "to Iceberg snapshots … for resumable restarts" (BASELINE.json:14).
The sandbox image ships no Iceberg runtime jar and has no network
(SURVEY.md §7), so :class:`SnapshotStore` provides the same semantics —
versioned writes, snapshot-at-version reads, atomic multi-table commit,
resume from the last committed version — over plain parquet:

  root/<table>/wave=<w>/ …parquet          one dir per table × version
  root/_manifests/manifest_<w>.json        commit record, written LAST
                                           via tmp-file + atomic rename

A wave's writes are only visible to resume once its manifest exists, so
a crash mid-wave rolls back to the previous wave (the stale partial
dirs are simply overwritten on retry). On a real cluster this class is
swapped for an Iceberg catalog (``df.writeTo(tbl).append()`` +
``VERSION AS OF`` reads, or a WAP branch per wave) — the engine only
talks to this interface.

Delta-table convention: tables registered as *deltas* (e.g. ``seen``)
append one version dir per wave and are read as the union of all
versions ≤ w; state tables (``frontier``, ``cuckoo``) are read at
exactly version w.

Delta compaction (:meth:`SnapshotStore.compact` — the Iceberg
``rewrite_data_files`` + ``expire_snapshots`` analogue): at 10^10 scale
a crawl runs thousands of waves, so the naive "union every version dir"
read pays O(waves) directory listings and per-file footer opens per
wave — a fixed cost that GROWS with crawl age while carrying the same
bytes. ``compact`` rewrites versions ≤ w into one ``base=<w>-<gen>``
dir, publishes it via an atomically-renamed ``_base.json`` marker (the
commit point — the marker names the live base dir, so a crash at any
step leaves either the old or the new base fully readable, never a
mix), then expires the superseded version dirs. ``read_upto`` reads the
base dir plus only the delta dirs AFTER it; reads below the base raise
(those snapshots are expired, exactly Iceberg's semantics). Compaction
also accepts a ``transform`` — the seed-revocation path rewrites the
seen set minus the revoked keys in the same durable step.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(self._manifest_dir(), exist_ok=True)

    # ---- paths ----
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    def _manifest_path(self, wave: int) -> str:
        return os.path.join(self._manifest_dir(), f"manifest_{wave:06d}.json")

    def table_path(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave}")

    # ---- writes ----
    def write(
        self, df: DataFrame, table: str, wave: int,
        partition_by: str | None = None,
    ) -> None:
        """``partition_by``: physical bucket column (e.g. the seen
        table's ``pid``) — written as hive-style subdirs so snapshot
        readers get partition pruning (on Iceberg this is the table's
        declared ``bucket(N, url_hash)`` partition transform).

        A ``_schema.json`` sidecar (the Iceberg-metadata analogue) is
        written per table so reads never depend on footer inference —
        which both saves a footer-read job at scale and keeps an EMPTY
        partitioned version readable (``partitionBy`` on an empty frame
        writes zero data files, so inference would fail)."""
        sidecar = os.path.join(self.root, table, "_schema.json")
        existing, declared_part = self._table_meta(table)
        if existing is not None:
            # The partition spec is pinned at table creation exactly like
            # the schema; a later write that silently changes it would
            # produce mixed flat/bucketed version dirs whose read-side
            # fallback drops the bucket column (pruning lost) and whose
            # compact() refuses the store — fail at the WRITE that
            # causes it, not wave(s) later at the read (same LOUD
            # discipline as the schema-drift guard below).
            if partition_by != declared_part:
                raise ValueError(
                    f"partition-spec drift on table '{table}': writer "
                    f"passed partition_by={partition_by!r} but the "
                    f"store's pinned sidecar declares {declared_part!r} "
                    "(legacy bare sidecars declare None); migrate the "
                    "store explicitly instead of mixing layouts"
                )
            # Schema drift must be LOUD (ADVICE.md r3) and must be
            # checked BEFORE the overwrite (ADVICE.md r4: validating
            # after w.parquet() had already clobbered the version dir
            # meant a rejected write destroyed committed data on the way
            # to raising). Nullability is excluded — Spark flips it
            # freely across plan shapes for identical data.
            want = [(f.name, f.dataType.simpleString()) for f in df.schema]
            have = [(f.name, f.dataType.simpleString()) for f in existing]
            if want != have:
                raise ValueError(
                    f"schema drift on table '{table}': writer has {want} "
                    f"but the store's pinned sidecar has {have}; version "
                    "the table (new name) or migrate the store explicitly"
                )
        w = df.write.mode("overwrite")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(self.table_path(table, wave))
        if existing is None:
            fd, tmp = tempfile.mkstemp(dir=os.path.dirname(sidecar))
            with os.fdopen(fd, "w") as f:
                # partition_by is RECORDED (the Iceberg partition-spec
                # analogue): reads must be able to tell "pid is a bucket
                # column materialized in dir names" from "pid is data" —
                # a flat version read under a pid-bearing schema would
                # otherwise surface all-null pids that silently poison
                # `pid IN` pruning (the ADVICE.md r3 upgrade bug).
                json.dump({
                    "schema": json.loads(df.schema.json()),
                    "partition_by": partition_by,
                }, f)
                # fsync before rename, same discipline as commit() and
                # the base marker: without it a power loss can expose a
                # ZERO-LENGTH sidecar, and every later read/write of the
                # table dies in json.load — bricking the store the
                # crash-safety contract promises stays readable
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, sidecar)

    # ---- delta compaction (Iceberg rewrite_data_files + expire_snapshots) ----
    def _base_marker_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_base.json")

    def _base_info(self, table: str) -> tuple[int, str] | None:
        """(base wave, live base dir name) or None if never compacted."""
        try:
            with open(self._base_marker_path(table)) as f:
                m = json.load(f)
            return int(m["base"]), m["dir"]
        except FileNotFoundError:
            return None

    def base_wave(self, table: str) -> int | None:
        """Highest expired version (reads below it raise), or None."""
        info = self._base_info(table)
        return info[0] if info is not None else None

    def compact(
        self,
        spark: SparkSession,
        table: str,
        upto: int,
        width: int | None = None,
        transform=None,
    ) -> dict:
        """Rewrite delta versions ≤ ``upto`` into one base dir and expire
        them. Crash-safe at every step:

        1. the compacted union is written to a fresh ``base=<upto>-<gen>``
           dir (``gen`` increments per compaction, so re-compacting at the
           same wave — e.g. two revocations between waves — never rewrites
           the dir the live marker points at);
        2. ``_base.json`` naming that dir is the atomic commit point
           (tmp-file + fsync + rename, same discipline as the manifests);
        3. superseded version dirs and older base dirs are expired LAST —
           a crash mid-expire leaves garbage the reader already ignores.

        ``transform`` (optional) rewrites the union on the way into the
        base — the seed-revocation path's anti-join rides here so "forget
        these keys" is durable in the same commit as the compaction.
        ``width`` sizes the output file count (data-proportional, like
        the per-wave state writes)."""
        schema, part_col = self._table_meta(table)
        if schema is None:
            raise ValueError(
                f"compact needs table '{table}' to have a schema sidecar"
            )
        df = self.read_upto(spark, table, upto)
        if transform is not None:
            df = transform(df)
        missing = [c for c in schema.fieldNames() if c not in df.columns]
        if missing:
            # A mixed-layout LEGACY store (flat + bucketed version dirs
            # under a bare sidecar) reads back with the bucket column
            # dropped (read_upto trades pruning for correctness there).
            # Compacting that frame would durably write a base missing
            # columns the sidecar still declares — every later read
            # resurfaces them as all-NULL, and a null bucket silently
            # fails `pid IN` pruning (previously-seen URLs re-crawled).
            # Refuse loudly instead; same guard catches a transform
            # that drops columns.
            raise ValueError(
                f"compact of table '{table}' would drop column(s) "
                f"{missing} still declared by the schema sidecar "
                "(mixed-layout legacy store or column-dropping "
                "transform); migrate the store to a uniform layout "
                "before compacting"
            )
        if width is not None:
            df = (
                df.repartition(width, part_col)
                if part_col is not None
                else df.repartition(width)
            )
        # next generation = 1 + max over EVERY existing base dir, not
        # just the marker's: a crash between the base-dir publish and
        # the marker flip leaves an orphaned dir whose name a
        # marker-only counter would reuse, and os.replace onto a
        # non-empty dir fails — the retry must skip past the orphan
        # (which step 3 then expires as normal garbage)
        gen = 0
        for name in os.listdir(os.path.join(self.root, table)):
            if name.startswith("base=") and "-" in name:
                try:
                    gen = max(gen, int(name.rsplit("-", 1)[1]) + 1)
                except ValueError:
                    continue
        base_name = f"base={upto}-{gen}"
        tmp = os.path.join(self.root, table, "_compact_tmp")
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        w = df.write.mode("overwrite")
        if part_col is not None:
            w = w.partitionBy(part_col)
        w.parquet(tmp)
        os.replace(tmp, os.path.join(self.root, table, base_name))
        fd, t = tempfile.mkstemp(dir=os.path.join(self.root, table))
        with os.fdopen(fd, "w") as f:
            json.dump({"base": upto, "dir": base_name}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(t, self._base_marker_path(table))
        expired = 0
        for w_ in range(upto + 1):
            p = self.table_path(table, w_)
            if os.path.isdir(p):
                shutil.rmtree(p)
                expired += 1
        for name in os.listdir(os.path.join(self.root, table)):
            if name.startswith("base=") and name != base_name:
                shutil.rmtree(os.path.join(self.root, table, name))
        return {"base": upto, "dir": base_name, "expired_versions": expired}

    def delta_dirs_above_base(self, table: str, upto: int) -> int:
        """Live delta-version dirs a :meth:`read_upto` at ``upto`` must
        union on top of the base (the whole chain if never compacted) —
        the auto-compaction trigger's cost proxy: each dir is one extra
        listing + footer open per read, every wave, forever."""
        info = self._base_info(table)
        lo = info[0] + 1 if info is not None else 0
        return sum(
            1
            for w in range(lo, upto + 1)
            if os.path.isdir(self.table_path(table, w))
        )

    def expire_state_snapshots(
        self, tables: list[str], retain_last: int = 2
    ) -> dict:
        """Iceberg ``expire_snapshots`` for STATE tables (frontier /
        cuckoo — read at exactly one version, so every wave's
        dir is a FULL copy of the state): delete version dirs older
        than ``last_wave - retain_last + 1``. At 10^10 scale the
        frontier and filter snapshots dominate storage — O(waves ×
        state size) if never expired — while only the trailing
        ``retain_last`` versions can ever be resumed from (resume reads
        ``last_wave()`` only; older versions exist purely for time
        travel). Manifests are kept for all waves: the crawl's history
        and metrics stay queryable after its state dirs are expired.

        Delta/output tables must not go through here (their old dirs
        still carry live rows); callers pass the state tables
        explicitly. Never deletes the last committed version even if
        ``retain_last`` is 0."""
        last = self.last_wave()
        out: dict = {}
        if last is None:
            return out
        floor = last - max(1, int(retain_last)) + 1
        for table in tables:
            n = 0
            for w in range(floor):
                p = self.table_path(table, w)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                    n += 1
            out[table] = n
        return out

    def _table_meta(self, table: str) -> tuple[StructType | None, str | None]:
        """(declared schema, declared partition column) from the sidecar.
        Accepts the legacy format (bare schema JSON, no partition spec)."""
        sidecar = os.path.join(self.root, table, "_schema.json")
        try:
            with open(sidecar) as f:
                payload = json.load(f)
        except FileNotFoundError:
            return None, None  # pre-sidecar store: fall back to inference
        if "schema" in payload and "fields" not in payload:
            return (
                StructType.fromJson(payload["schema"]),
                payload.get("partition_by"),
            )
        return StructType.fromJson(payload), None

    def _schema(self, table: str) -> StructType | None:
        return self._table_meta(table)[0]

    # ---- schema evolution (Iceberg ALTER TABLE ADD COLUMNS) ----
    def evolve_schema(self, table: str, add_ddl: str) -> StructType:
        """Additive schema evolution: append new nullable column(s) to the
        table's pinned sidecar schema, e.g. ``evolve_schema("pages",
        "lang string, quality double")``. This is the explicit migration
        path the write/compact drift guards point at ("migrate the store
        explicitly"), mirroring Iceberg's ``ALTER TABLE … ADD COLUMNS``:

        * **adds only** — renames, drops, and type changes are refused
          (they would need Iceberg's field-ID indirection to stay safe;
          a parquet-name-keyed store cannot express them losslessly);
        * **reads of pre-evolution versions null-fill** the new columns
          (every read path passes the declared schema to the parquet
          reader, which treats schema columns absent from a file's
          footer as NULL — exactly Iceberg's read-time projection);
        * **writers must catch up at once**: the next :meth:`write`
          validates against the evolved sidecar, so an old-schema writer
          fails LOUDLY instead of forking the layout (Iceberg writers
          likewise always write the table's current schema);
        * a later :meth:`compact` rewrites history under the evolved
          schema, materializing the NULL backfill durably.

        Returns the evolved schema. The sidecar rewrite is atomic
        (tmp-file + fsync + rename, same discipline as commits), so a
        crash mid-evolve leaves the old schema fully live."""
        schema, part_col = self._table_meta(table)
        if schema is None:
            raise ValueError(
                f"evolve_schema needs table '{table}' to have a schema "
                "sidecar (write the table at least once first)"
            )
        try:
            added = StructType.fromDDL(add_ddl)
        except Exception as e:
            raise ValueError(
                f"evolve_schema: cannot parse DDL {add_ddl!r}: {e}"
            ) from e
        if not added.fields:
            raise ValueError("evolve_schema: no columns in DDL")
        have = {f.name.lower() for f in schema.fields}
        for f in added.fields:
            if f.name.lower() in have:
                raise ValueError(
                    f"evolve_schema: column '{f.name}' already exists on "
                    f"table '{table}' (only additive evolution is "
                    "supported; renames/type-changes need a new table)"
                )
            have.add(f.name.lower())
        evolved = StructType(
            list(schema.fields)
            + [
                # force nullable (old versions MUST read as NULL here);
                # keep field metadata (e.g. a DDL COMMENT) intact
                StructField(f.name, f.dataType, True, f.metadata)
                for f in added.fields
            ]
        )
        sidecar = os.path.join(self.root, table, "_schema.json")
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(sidecar))
        with os.fdopen(fd, "w") as f:
            json.dump({
                "schema": json.loads(evolved.json()),
                "partition_by": part_col,
            }, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, sidecar)
        return evolved

    # ---- metadata tables (Iceberg `snapshots` / `files`) ----
    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The store's commit history as a DataFrame — the Iceberg
        ``snapshots`` metadata table: one row per committed wave with
        the manifest payload as a JSON string (``from_json`` /
        ``get_json_object`` peel out per-crawl metrics). Built from a
        driver-side listing of the manifest dir — O(waves), metadata
        not data, the same planning-side cost Iceberg's own metadata
        tables pay; on a real cluster this is
        ``spark.read.table("db.tbl.snapshots")``."""
        rows = [
            (w, json.dumps(self.manifest(w), sort_keys=True),
             float(os.path.getmtime(self._manifest_path(w))))
            for w in self._committed_waves()
        ]
        return spark.createDataFrame(
            rows, "wave int, manifest string, committed_at double"
        )

    def files_df(self, spark: SparkSession, table: str) -> DataFrame:
        """Live data files of one table — the Iceberg ``files`` metadata
        table: one row per parquet file with its version dir (``wave=N``
        delta or ``base=N-g`` compaction base), hive partition value if
        bucketed, and size. Drives observability (file-count/size-skew
        checks, compaction triggers) without touching data. Driver-side
        walk — O(live files), which compaction keeps bounded; Iceberg
        reads the same facts from avro manifests.

        Only LIVE versions appear: wave dirs above the last committed
        manifest are crash leftovers invisible to resume; wave dirs at
        or below the compaction base are expired (their rows live in
        the base — a crash mid-expire can leave such a dir on disk,
        and read_upto already ignores it); base dirs other than the
        ``_base.json`` marker's are orphans awaiting expiry — all
        excluded, exactly as Iceberg's ``files`` table reflects
        reachable snapshots only."""
        tdir = os.path.join(self.root, table)
        last = self.last_wave()
        base = self._base_info(table)
        live_base = base[1] if base is not None else None
        base_wave = base[0] if base is not None else -1
        rows = []
        for version in sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []:
            vdir = os.path.join(tdir, version)
            if not os.path.isdir(vdir):
                continue
            if version.startswith("wave="):
                w = int(version.split("=", 1)[1])
                if last is None or w > last or w <= base_wave:
                    continue
            elif version.startswith("base="):
                if version != live_base:
                    continue
            else:
                continue
            for root, _dirs, files in os.walk(vdir):
                part = None
                rel = os.path.relpath(root, vdir)
                for seg in rel.split(os.sep):
                    if "=" in seg:
                        part = seg
                for fn in files:
                    if fn.endswith(".parquet"):
                        fp = os.path.join(root, fn)
                        rows.append(
                            (table, version, part, fp,
                             int(os.path.getsize(fp)))
                        )
        return spark.createDataFrame(
            rows,
            "table string, version string, partition string, "
            "path string, size_bytes long",
        )

    def rollback(self, to_wave: int, require_state: tuple = ()) -> dict:
        """Make ``to_wave`` the last committed version — the Iceberg
        ``rollback_to_snapshot`` analogue. A poisoned wave (bad fetch
        content, a buggy extractor rollout) is un-committed by deleting
        its manifest: manifests are the only commit points, so every
        read/resume path (``last_wave`` → ``read_upto`` /
        ``read_outputs`` / ``run_crawl`` resume) stops seeing waves
        above the target the instant their manifests are gone.

        Deletion runs in DESCENDING wave order — each unlink is one
        atomic un-commit, so a crash mid-rollback leaves a shorter but
        still-consistent chain (some waves rolled back, none half
        visible). Version dirs above the target stay on disk: they are
        unreachable (exactly the crash-mid-wave contract) and the
        re-run overwrites them.

        Guards: ``to_wave`` must itself be committed; no table's
        compaction base may sit above it (those snapshots are expired —
        Iceberg likewise cannot roll back past ``expire_snapshots``);
        each table named in ``require_state`` (the caller's state
        tables, e.g. ``("frontier",)``) must still hold its ``to_wave``
        version dir, catching a rollback below
        :meth:`expire_state_snapshots`'s retention BEFORE any manifest
        is deleted rather than at the resume that would fail."""
        waves = self._committed_waves()
        if to_wave not in waves:
            shown = waves if len(waves) <= 6 else f"{waves[:3]}…{waves[-3:]}"
            raise ValueError(
                f"rollback target {to_wave} is not a committed wave "
                f"(committed: {shown})"
            )
        for name in os.listdir(self.root):
            if name == "_manifests":
                continue
            if os.path.isdir(os.path.join(self.root, name)):
                b = self.base_wave(name)
                if b is not None and b > to_wave:
                    raise ValueError(
                        f"cannot roll back to wave {to_wave}: table "
                        f"'{name}' is compacted through wave {b} — those "
                        "snapshots are expired (Iceberg cannot roll back "
                        "past expire_snapshots either)"
                    )
        for t in require_state:
            if not os.path.isdir(self.table_path(t, to_wave)):
                raise ValueError(
                    f"cannot roll back to wave {to_wave}: state table "
                    f"'{t}' has no version dir there (expired by "
                    "retain_state_snapshots?) — resume would have no "
                    "state to restart from"
                )
        dropped = [w for w in waves if w > to_wave]
        for w in sorted(dropped, reverse=True):
            os.remove(self._manifest_path(w))
        return {"rolled_back_to": to_wave, "dropped_waves": dropped}

    def commit(self, wave: int, info: dict) -> None:
        """Atomically publish version ``wave`` (manifest is the commit point)."""
        payload = dict(info)
        payload["wave"] = wave
        fd, tmp = tempfile.mkstemp(dir=self._manifest_dir(), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path(wave))

    # ---- reads ----
    def _reader(self, spark: SparkSession, table: str):
        r = spark.read
        schema = self._schema(table)
        return r.schema(schema) if schema is not None else r

    def read(self, spark: SparkSession, table: str, wave: int) -> DataFrame:
        return self._reader(spark, table).parquet(self.table_path(table, wave))

    @staticmethod
    def _partition_col(path: str) -> str | None:
        """Detect a hive-style bucket layout (``pid=N`` subdirs) in one
        version dir; None for a flat part-file layout."""
        try:
            for name in os.listdir(path):
                if "=" in name and os.path.isdir(os.path.join(path, name)):
                    return name.split("=", 1)[0]
        except FileNotFoundError:
            pass
        return None

    @staticmethod
    def _has_data_files(path: str) -> bool:
        """True if the version dir holds ≥1 parquet data file. An EMPTY
        partitioned version (``partitionBy`` on a zero-row frame writes
        only ``_SUCCESS`` — no ``pid=`` subdirs, no files) must not
        count as evidence of any layout: treating its None layout as
        "flat" used to trip the mixed-layout fallback, permanently
        dropping the bucket column from reads and making ``compact``
        raise (code-review r5)."""
        for root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read_upto(self, spark: SparkSession, table: str, wave: int) -> DataFrame:
        """Union of delta versions 0..wave (e.g. the cumulative seen set).

        ``basePath`` anchors partition discovery at the table root, so a
        bucket layout written with ``partition_by`` (seen's ``pid``)
        surfaces as a partition column and version-pruned reads ALSO get
        bucket pruning (static or dynamic) in the scan. Versions beyond
        ``wave`` are excluded by passing explicit per-version paths, not
        a filter — an uncommitted (crashed) later version's files must
        stay invisible to resume even though they sit under basePath.

        Two upgrade/compat hazards handled here (ADVICE.md r3):

        * **Mixed layouts.** A store whose early versions predate the
          bucketed-delta layout has flat ``wave=N/part-*.parquet`` dirs
          next to bucketed ``wave=N/pid=M/`` dirs; basePath discovery
          then fails with CONFLICTING_PARTITION_COLUMN_NAMES. Fallback:
          read each version rooted at its own dir and union, DROPPING
          the bucket column entirely — a null bucket value on old rows
          would make the seen filter's static ``pid IN`` pruning skip
          them (a correctness bug: false "new" URLs), so a mixed-layout
          store loudly trades bucket pruning for correctness until it
          is re-crawled or migrated.
        * **Synthetic ``wave`` column.** basePath surfaces the version
          dirs as an inferred ``wave`` int column absent from the
          declared schema; it is projected away so downstream
          ``select('*')`` writes and unionByName never embed it.
        """
        base = self._base_info(table)
        if base is not None:
            b, base_dir = base
            if wave < b:
                raise ValueError(
                    f"table '{table}' snapshots ≤ {b} are compacted/expired"
                    f"; cannot read as-of version {wave} (Iceberg "
                    "expire_snapshots semantics — compact less "
                    "aggressively if time travel below this is needed)"
                )
            schema = self._schema(table)
            paths = [os.path.join(self.root, table, base_dir)] + [
                self.table_path(table, w)
                for w in range(b + 1, wave + 1)
                if os.path.isdir(self.table_path(table, w))
            ]
            # per-dir reads, each anchored at itself so a hive bucket
            # layout (pid=N subdirs) surfaces without the conflicting
            # base=/wave= dir names ever entering partition discovery;
            # a `pid IN` residual filter above the union prunes each
            # scan independently. Post-compaction stores are written
            # by this code, so layouts are uniform by construction.
            out = None
            for p in paths:
                d = self._reader(spark, table).option("basePath", p).parquet(p)
                out = d if out is None else out.unionByName(d)
            return out.select(*schema.fieldNames()) if schema else out
        paths = [
            self.table_path(table, w)
            for w in range(wave + 1)
            if os.path.isdir(self.table_path(table, w))
        ]
        # layout evidence comes only from versions that HOLD DATA — an
        # empty partitioned version has no pid= dirs and must not read
        # as "flat" (see _has_data_files)
        layouts = {
            self._partition_col(p) for p in paths if self._has_data_files(p)
        }
        schema, declared = self._table_meta(table)
        # the bucket column: declared in the sidecar's partition spec, or
        # (legacy sidecar) detected from the version dirs themselves
        part_col = declared
        if part_col is None:
            part_col = next((c for c in layouts if c is not None), None)
        if part_col is not None and layouts and layouts != {part_col}:
            # ≥1 version lacks the physical bucket layout (pre-upgrade
            # flat dirs, possibly mixed with bucketed ones): correctness
            # over pruning — union per-path reads and DROP the bucket
            # column entirely, because flat versions would surface it as
            # all-null and a null bucket silently fails `pid IN` pruning
            out = None
            for p in paths:
                df = self._reader(spark, table).parquet(p)
                cur = out
                out = df if cur is None else cur.unionByName(
                    df, allowMissingColumns=True
                )
            return out.drop(part_col)
        base = os.path.join(self.root, table)
        df = self._reader(spark, table).option("basePath", base).parquet(*paths)
        if schema is not None:
            return df.select(*schema.fieldNames())
        return df.drop("wave")  # legacy pre-sidecar store: best effort

    def read_outputs(self, spark: SparkSession, table: str) -> DataFrame:
        """All committed versions of an output table (trace/pages/metrics)."""
        last = self.last_wave()
        if last is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        paths = [
            self.table_path(table, w)
            for w in range(last + 1)
            if os.path.isdir(self.table_path(table, w))
        ]
        return self._reader(spark, table).parquet(*paths)

    # ---- manifests ----
    def _committed_waves(self) -> list[int]:
        """Sorted committed wave numbers — the single parser of manifest
        file names (last_wave and snapshots_df both ride it, so the two
        views of commit history cannot diverge)."""
        return sorted(
            int(n[len("manifest_"):-len(".json")])
            for n in os.listdir(self._manifest_dir())
            if n.startswith("manifest_") and n.endswith(".json")
        )

    def last_wave(self) -> int | None:
        waves = self._committed_waves()
        return waves[-1] if waves else None

    def manifest(self, wave: int) -> dict:
        with open(self._manifest_path(wave)) as f:
            return json.load(f)
