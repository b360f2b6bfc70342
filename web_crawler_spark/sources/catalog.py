"""ManifestCatalog — Iceberg-semantics table layer without the Iceberg jar.

The north_rule requires Iceberg tables with snapshot checkpoints and
resume; the Iceberg runtime jar is absent in this sandbox (SURVEY.md §7.3),
so this catalog provides the same semantics over parquet directories:

- every table write creates a NEW immutable version directory
  (``tables/<name>/v<k>``) — never in-place mutation;
- a round commit atomically publishes ``manifest.json`` (tmp + os.replace)
  pinning one version per table plus the engine counters — readers always
  see a consistent snapshot;
- resume = read the manifest, continue from ``round + 1``;
- time travel = read any older ``manifest-r<k>.json``;
- a round's reusable intermediates land as scratch parts
  (``scratch/<name>``), read back as flat file scans and deleted when
  the round commits — the superstep's durable barrier, so no plan ever
  stacks one persisted frame on another.

Each method is the local twin of an Iceberg operation:

=============================  ==============================================
method                         Iceberg twin
=============================  ==============================================
``read``                       ``spark.table`` pinned to the current snapshot
``read_at``                    ``VERSION AS OF <snapshot>``
``read_part``                  a scan of one snapshot's added data files
``read_changes``               incremental-append scan
``rounds`` / ``history``       the ``.snapshots`` metadata table
``exists``                     ``spark.catalog.tableExists``
``counters`` / ``round``       the snapshot summary of the last commit
``staged_rowcount``            the snapshot summary's ``total-records``
``stage`` / ``stage_local``    ``writeTo().createOrReplace()``
``append`` / ``append_local``  ``writeTo().append()``
``replace`` / ``compact``      overwrite / ``rewrite_data_files``
``merge``                      ``MERGE INTO`` (copy-on-write)
``alter_add_columns``          ``ALTER TABLE ... ADD COLUMN``
``parts``                      the ``.files`` metadata table
``expire_snapshots``           ``expire_snapshots`` + ``remove_orphan_files``
``commit``                     every table's snapshot id pinned per round
=============================  ==============================================

``scratch`` / ``discard_scratch`` have no twin: a scratch part is not a
table. The engine, the reports and the benchmark construct only this
catalog.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class ManifestCatalog:
    def __init__(self, spark: SparkSession, run_dir: str,
                 table_schemas: dict | None = None):
        self.spark = spark
        self.run_dir = run_dir
        # declared StructTypes per table: reads skip parquet-footer
        # schema inference (which costs a driver round-trip per read per
        # round and grows with the append count)
        self.table_schemas = dict(table_schemas or {})
        # the code-declared (pre-evolution) schemas: the fallback for
        # snapshots committed before any alter_add_columns
        self._base_schemas = dict(self.table_schemas)
        self.tables_dir = os.path.join(run_dir, "tables")
        os.makedirs(self.tables_dir, exist_ok=True)
        # stage()/append() are safe to call from concurrent driver threads
        # (the engine overlaps its independent per-round write jobs):
        # version allocation is locked; the parquet write itself runs
        # unlocked — paths are unique per (name, version).
        self._lock = threading.Lock()
        # the staging ledger of the open commit window: stage-table
        # versions, append parts and replace parts written since the
        # last commit (commit publishes them, then clears them)
        self._staged: dict[str, int] = {}
        self._staged_appends: dict[str, list[int]] = {}
        self._staged_replaces: dict[str, int] = {}
        # scratch parts written since the last commit
        self.scratch_dir = os.path.join(run_dir, "scratch")
        self._scratch: set[str] = set()
        self.manifest: dict = {"round": -1, "versions": {}, "appends": {}, "counters": {}}
        mpath = os.path.join(run_dir, "manifest.json")
        if os.path.exists(mpath):
            with open(mpath) as f:
                self.manifest = json.load(f)
            self.manifest.setdefault("appends", {})
            # resume sees evolved schemas: the committed manifest wins
            # over the constructor's (code-declared) StructTypes
            for name, sj in self.manifest.get("schemas", {}).items():
                self.table_schemas[name] = T.StructType.fromJson(sj)

    # -- reads ------------------------------------------------------------
    def exists(self, name: str) -> bool:
        return name in self.manifest["versions"] or name in self.manifest["appends"]

    def rounds(self) -> list[int]:
        """Committed rounds with a retained snapshot manifest — the
        catalog's snapshot log (Iceberg: the snapshots metadata table)."""
        out = []
        for fn in os.listdir(self.run_dir):
            if fn.startswith("manifest-r") and fn.endswith(".json"):
                out.append(int(fn[len("manifest-r"):-len(".json")]))
        return sorted(out)

    def read_at(self, name: str, round_no: int) -> DataFrame:
        """TIME TRAVEL: read `name` exactly as committed at `round_no`,
        from the retained per-round snapshot manifest. Version dirs are
        immutable and appends only ever add part dirs, so an old
        snapshot's reads stay valid while the crawl keeps running —
        the Iceberg `VERSION AS OF` twin. Raises if the snapshot or the
        table at that round does not exist."""
        mpath = os.path.join(self.run_dir, f"manifest-r{round_no}.json")
        with open(mpath) as f:
            m = json.load(f)
        m.setdefault("appends", {})
        return self._read_from_manifest(name, m, live=False)

    def read(self, name: str) -> DataFrame:
        return self._read_from_manifest(name, self.manifest, live=True)

    def read_changes(self, name: str, from_round: int,
                     to_round: int | None = None) -> DataFrame:
        """INCREMENTAL scan (Iceberg incremental-append scan): the rows
        added to append table ``name`` by commits AFTER ``from_round``
        up to ``to_round`` (default: the live manifest). Reads only the
        delta part directories — a consumer tailing the crawl log scans
        the new rounds' bytes, never the accumulated table. Raises
        ValueError if a replace (eviction compaction / maintenance)
        rewrote the table inside the window — deltas are no longer
        expressible as added parts then, exactly Iceberg's refusal on
        overwrite snapshots; resync with a full ``read``/``read_at``."""
        with open(os.path.join(self.run_dir, f"manifest-r{from_round}.json")) as f:
            base = json.load(f)
        if to_round is None:
            target = self.manifest
        else:
            with open(os.path.join(self.run_dir, f"manifest-r{to_round}.json")) as f:
                target = json.load(f)
        old = base.get("appends", {}).get(name, [])
        new = target.get("appends", {}).get(name, [])
        if not set(old) <= set(new):
            raise ValueError(
                f"table {name!r} was rewritten between rounds {from_round} "
                f"and {to_round if to_round is not None else self.round} "
                "(replace/compaction) — incremental read unavailable")
        delta = [v for v in new if v not in set(old)]
        schema = self._schema_for(name, target, live=to_round is None)
        if not delta:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            if not new:
                raise KeyError(f"table {name!r} has no append parts in either snapshot")
            return self._scan(name, [new[0]], schema).limit(0)
        return self._scan(name, delta, schema)

    def history(self) -> list[dict]:
        """Snapshot log (Iceberg `.snapshots` metadata table): one entry
        per retained round with its committed counters."""
        out = []
        for rn in self.rounds():
            with open(os.path.join(self.run_dir, f"manifest-r{rn}.json")) as f:
                m = json.load(f)
            out.append({"round": rn, "counters": m.get("counters", {})})
        return out

    def _schema_for(self, name: str, manifest: dict, live: bool):
        """Schema binding per Iceberg semantics: live reads use the
        current (possibly just-evolved) schema; snapshot reads use the
        schema RECORDED in that snapshot's manifest, falling back to the
        code-declared base for snapshots that predate any evolution —
        so time travel to a pre-evolution round never shows the added
        columns."""
        if live:
            return self.table_schemas.get(name)
        sj = manifest.get("schemas", {}).get(name)
        if sj is not None:
            return T.StructType.fromJson(sj)
        return self._base_schemas.get(name)

    def _read_from_manifest(self, name: str, manifest: dict,
                            live: bool = True) -> DataFrame:
        vs = (manifest["appends"][name] if name in manifest["appends"]
              else [manifest["versions"][name]])
        return self._scan(name, vs, self._schema_for(name, manifest, live))

    def _scan(self, name: str, versions, schema) -> DataFrame:
        """One flat parquet scan of the given versions or parts of
        ``name``, bound to ``schema`` when there is one — a declared
        schema skips parquet-footer inference."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*(self._path(name, v) for v in versions))

    def _path(self, name: str, v: int) -> str:
        return os.path.join(self.tables_dir, name, f"v{v}")

    def counters(self) -> dict:
        return dict(self.manifest["counters"])

    def staged_rowcount(self, name: str) -> int:
        """Row count of the most recently staged/committed version of
        ``name`` from parquet footers only — no Spark job. The Iceberg
        equivalent is reading the snapshot's manifest row counts."""
        v = self._staged.get(name, self.manifest["versions"].get(name))
        if v is None:
            raise KeyError(f"table {name!r} has no staged or committed version")
        return _footer_rows(self._path(name, v))

    def read_part(self, name: str, v: int) -> DataFrame:
        """One version or part of ``name`` as written, committed or not —
        a flat scan of the files a write of this round just landed."""
        return self._scan(name, [v], self.table_schemas.get(name))

    @property
    def round(self) -> int:
        return int(self.manifest["round"])

    # -- writes -----------------------------------------------------------
    def stage(self, name: str, df: DataFrame, partitions: int | None = None) -> int:
        """Write a new version of ``name``; becomes visible only at commit."""
        v = self._next_stage_version(name)
        self._write_df(name, v, df, partitions)
        return v

    def stage_local(self, name: str, table) -> int:
        """``stage`` for a small DRIVER-SIDE pyarrow table — the staged
        twin of ``append_local`` (no Spark job)."""
        v = self._next_stage_version(name)
        self._write_local(name, v, table)
        return v

    def _next_stage_version(self, name: str) -> int:
        with self._lock:
            v = int(self._staged.get(name, self.manifest["versions"].get(name, -1))) + 1
            self._staged[name] = v
        return v

    def append(self, name: str, df: DataFrame, partitions: int | None = None) -> int:
        """Append-only table: write ONLY the delta as a new part (Iceberg
        append semantics — no rewrite amplification for logs/metrics/seen)."""
        v = self._next_append_version(name)
        self._write_df(name, v, df, partitions)
        return v

    def _next_append_version(self, name: str) -> int:
        with self._lock:
            v = self._next_part_version(name)
            self._staged_appends.setdefault(name, []).append(v)
        return v

    def _next_part_version(self, name: str) -> int:
        """Next free part version for an append table, counting committed
        parts, staged appends AND any staged replace — a replace followed
        by an append in the same commit window must not reuse v."""
        repl = self._staged_replaces.get(name)
        cands = (self.manifest["appends"].get(name, [])
                 + self._staged_appends.get(name, [])
                 + ([repl] if repl is not None else []))
        return (max(cands) + 1) if cands else 0

    def replace(self, name: str, df: DataFrame, partitions: int | None = None) -> int:
        """Compact/overwrite an APPEND table: write the full frame as one
        new part; at commit the table's append list collapses to just it
        (Iceberg overwrite-snapshot semantics). Needed by recrawl-window
        eviction — the seen set SHRINKS, which appends cannot express."""
        with self._lock:
            v = self._next_part_version(name)
            self._staged_replaces[name] = v
        self._write_df(name, v, df, partitions)
        return v

    def append_local(self, name: str, table) -> int:
        """Append a small DRIVER-SIDE pyarrow table without launching a
        Spark job — for per-round literal frames (metrics rows, already
        collected) where a distributed write is pure fixed cost. The
        Iceberg twin appends the same tiny batch through writeTo()."""
        v = self._next_append_version(name)
        self._write_local(name, v, table)
        return v

    def _write_df(self, name: str, v: int, df: DataFrame,
                  partitions: int | None) -> None:
        w = df.coalesce(partitions) if partitions else df
        w.write.mode("overwrite").parquet(self._path(name, v))

    def _write_local(self, name: str, v: int, table) -> None:
        import pyarrow.parquet as pq

        path = self._path(name, v)
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))

    # -- round-scoped scratch parts ---------------------------------------
    def scratch(self, name: str, df: DataFrame) -> tuple[DataFrame, int]:
        """Land an intermediate frame of the open round as a parquet part
        and return it read back as a flat file scan, with its row count
        from the parquet footers (no Spark job). Later jobs of the round
        scan the files instead of re-planning (or caching) the frame's
        lineage, and a lost executor re-reads them instead of
        recomputing. The part is not a table: no snapshot references
        it, and ``commit`` (or ``discard_scratch``) deletes it."""
        path = os.path.join(self.scratch_dir, name)
        with self._lock:
            self._scratch.add(name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path), _footer_rows(path)

    def discard_scratch(self) -> None:
        """Delete every scratch part — at commit, or when a round ends
        without one."""
        shutil.rmtree(self.scratch_dir, ignore_errors=True)
        self._scratch = set()

    # -- schema evolution / merge ------------------------------------------
    def alter_add_columns(self, name: str, fields) -> None:
        """Additive schema evolution (Iceberg ``ALTER TABLE ... ADD
        COLUMN``): a METADATA-ONLY change — no data files are touched,
        old parts read back with NULL in the added columns (verified:
        Spark's parquet reader null-fills declared-but-absent columns).
        New fields must be nullable and not already present; drops,
        renames and type changes are refused — without Iceberg's
        field-id indirection they would silently mis-bind old parts.
        Takes effect immediately for live reads/writes and is persisted
        in every snapshot manifest from the next commit on, so resume
        sees the evolved schema while time travel to earlier rounds
        reads the old one."""
        base = self.table_schemas.get(name)
        if base is None:
            raise KeyError(f"table {name!r} has no declared schema to evolve")
        have = set(base.fieldNames())
        fields = list(fields)
        for f in fields:
            if f.name in have:
                raise ValueError(f"column {f.name!r} already exists in {name!r} "
                                 "(only additive evolution is supported)")
            if not f.nullable:
                raise ValueError(f"added column {f.name!r} must be nullable — "
                                 "existing parts have no value for it")
        evolved = T.StructType(base.fields + fields)
        self.table_schemas[name] = evolved
        self.manifest.setdefault("schemas", {})[name] = evolved.jsonValue()

    def merge(self, name: str, source: DataFrame, on,
              partitions: int | None = None) -> int:
        """Upsert (Iceberg/Delta ``MERGE INTO ... WHEN MATCHED THEN
        UPDATE SET * WHEN NOT MATCHED THEN INSERT *``), copy-on-write:
        matched target rows are replaced by their source row, unmatched
        target rows kept, unmatched source rows inserted. One shuffle on
        the merge key (the anti-join); staged like every write, so the
        merge is invisible until commit and pre-merge snapshots stay
        intact. ``source`` must be key-unique (MERGE's cardinality
        rule). On a real cluster the Iceberg CoW MERGE narrows the
        rewrite to touched partitions via pruning on the key — here the
        table is one logical partition, so the rewrite is the table."""
        on = [on] if isinstance(on, str) else list(on)
        # merge reads only the COMMITTED table (self.read). Staged-but-
        # uncommitted writes to the same table in this commit window would
        # be invisible to the upsert, and commit's replace-wins rule would
        # then silently drop them (append → merge → commit loses the
        # append). Refuse rather than quietly lose data — commit first,
        # then merge.
        staged_here = (name in self._staged or name in self._staged_appends
                       or name in self._staged_replaces)
        if staged_here:
            raise RuntimeError(
                f"merge({name!r}): table has staged uncommitted writes; a "
                "merge would not see them and commit would orphan them — "
                "commit the pending round first, then merge")
        target = self.read(name)
        kept = target.join(source.select(*on).dropDuplicates(on),
                           on=on, how="left_anti")
        merged = kept.unionByName(source.select(*target.columns))
        staged = name in self.manifest["versions"] or name in self._staged
        writer = self.stage if staged else self.replace
        return writer(name, merged, partitions=partitions)

    # -- maintenance ------------------------------------------------------
    def parts(self, name: str) -> list[int]:
        """Committed part versions of an append table (empty for
        stage-based tables) — the input to compaction decisions."""
        return list(self.manifest["appends"].get(name, []))

    def compact(self, name: str, partitions: int | None = None) -> int:
        """Small-file compaction of an append table (Iceberg
        ``rewrite_data_files``): rewrite the committed parts as ONE new
        part via ``replace`` — the append list collapses to it at the
        next commit. Pure layout change: table contents are identical,
        so compaction needs no resume replay (unlike eviction). At
        10^5-round scale an uncompacted append table is 10^5 directories
        and the read-side file listing becomes the bottleneck; on a real
        cluster ``partitions`` targets the Iceberg file-size goal."""
        return self.replace(name, self.read(name), partitions=partitions)

    def expire_snapshots(self, keep_last: int) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files``: drop
        all but the newest ``keep_last`` per-round snapshot manifests,
        then delete every version directory that no retained manifest,
        the live manifest, nor staged state references. ``read_at`` on
        an expired round raises thereafter (exactly Iceberg's contract).

        Crash-safe by ordering: manifests are removed before the
        directory sweep, so an interrupted sweep only leaves orphans for
        the next sweep — never a retained manifest pointing at a deleted
        directory. The big win is stage-based tables (e.g. the frontier,
        rewritten every round): their superseded versions are only
        reachable through old snapshots."""
        rounds = self.rounds()
        expired = rounds[:-keep_last] if keep_last > 0 else rounds
        for rn in expired:
            os.remove(os.path.join(self.run_dir, f"manifest-r{rn}.json"))
        referenced: set[tuple[str, int]] = set()
        manifests = [self.manifest]
        for rn in self.rounds():
            with open(os.path.join(self.run_dir, f"manifest-r{rn}.json")) as f:
                manifests.append(json.load(f))
        for m in manifests:
            for name, v in m.get("versions", {}).items():
                referenced.add((name, int(v)))
            for name, vs in m.get("appends", {}).items():
                referenced.update((name, int(v)) for v in vs)
        for name, v in self._staged.items():
            referenced.add((name, int(v)))
        for name, vs in self._staged_appends.items():
            referenced.update((name, int(v)) for v in vs)
        for name, v in self._staged_replaces.items():
            referenced.add((name, int(v)))
        removed = 0
        for name in os.listdir(self.tables_dir):
            tdir = os.path.join(self.tables_dir, name)
            for fn in os.listdir(tdir):
                if (fn.startswith("v") and fn[1:].lstrip("-").isdigit()
                        and (name, int(fn[1:])) not in referenced):
                    shutil.rmtree(os.path.join(tdir, fn))
                    removed += 1
        # scratch parts of a round that crashed before its commit
        if os.path.isdir(self.scratch_dir):
            for fn in os.listdir(self.scratch_dir):
                if fn not in self._scratch:
                    shutil.rmtree(os.path.join(self.scratch_dir, fn))
                    removed += 1
        return {"expired_snapshots": len(expired), "orphans_removed": removed}

    def commit(self, round_no: int, counters: dict) -> None:
        self.manifest["versions"].update(self._staged)
        for name, vs in self._staged_appends.items():
            self.manifest["appends"].setdefault(name, []).extend(vs)
        self._staged_appends = {}
        for name, v in self._staged_replaces.items():
            self.manifest["appends"][name] = [v]  # compaction wins
        self._staged_replaces = {}
        self.manifest["round"] = round_no
        self.manifest["counters"] = counters
        tmp = os.path.join(self.run_dir, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(self.manifest, f)
        # atomic publish + retained per-round snapshot (time travel / audit)
        os.replace(tmp, os.path.join(self.run_dir, "manifest.json"))
        shutil.copyfile(
            os.path.join(self.run_dir, "manifest.json"),
            os.path.join(self.run_dir, f"manifest-r{round_no}.json"),
        )
        self._staged = {}
        self.discard_scratch()


def _footer_rows(path: str) -> int:
    """Row count of the parquet files in ``path`` from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))
