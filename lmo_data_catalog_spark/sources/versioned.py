"""Versioned parquet tables: snapshot isolation via a manifest log.

Reference status: extension surface. The reference catalog
(01_source_me.R:1-346) republishes its whole output annually with no
history; a production catalog at 100 TB needs what the lakehouse
formats provide — atomic commits, time travel, rollback — without
rewriting data. This is the minimal manifest-log design those formats
share (a Delta/Iceberg-lite, built on nothing but parquet + JSON):

- Data files are IMMUTABLE. A commit writes new parquet files into
  ``data/c<version>-<token>/`` and then publishes a JSON manifest
  ``_versions/v<version>.json`` naming every live data directory.
  Readers resolve a manifest and read exactly those files — never a
  directory listing, so a half-written commit is invisible and S3-style
  eventual listing consistency doesn't matter.
- The manifest publish is a single atomic ``os.rename`` of a temp
  file. Version numbers are dense integers; a writer that loses the
  race to its version number raises ``CommitConflict`` (optimistic
  concurrency, single-winner — retry by re-reading the head).
- ``overwrite`` commits reference only the new files; ``append``
  commits reference the parent's files plus the new ones. Both are
  O(metadata): no data file is ever copied or rewritten.
- ``rollback(v)`` is itself a new commit whose file list is version
  v's — history is append-only, rollbacks are auditable, and
  ``vacuum`` can still reclaim files unreferenced by retained heads.

Scale notes: the manifest holds directory paths, not per-file lists,
so it stays tiny regardless of file count; reads hand Spark an
explicit path list (partition pruning and predicate pushdown apply
per normal parquet scan). Schema evolution is manifest-tracked: every
commit records the table's logical schema (parent schema ∪ batch
schema, with safe-ladder type widening — byte→short→int→long,
float→double — and anything else rejected at commit time); reads
scan every directory AT that schema, so pre-evolution files up-cast
and fill NULLs without a rewrite, and time travel sees the schema as
of the version it reads. Renames and drops are metadata-only too
(``rename_column`` / ``drop_column``): a manifest-carried rename log
records each (version, from, to) transition — a tombstone name for
drops — and reads resolve every directory's PHYSICAL column names
from its write version through the log, so old files surface under
new names, re-added names never resurrect tombstoned bytes, and time
travel sees the names as of the version it reads (the Iceberg
field-id contract, implemented as lineage over names).
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _stat_encode(v):
    """Zone-map bound → (vtype tag, JSON-safe value).

    Spark collects DATE/TIMESTAMP/DECIMAL columns as ``datetime.date``
    / ``datetime.datetime`` / ``decimal.Decimal`` — none of which
    ``json.dump`` can serialize, and the merge docstring advertises
    date-keyed tables as the primary pruning use case. Bounds are
    stored in a canonical string form tagged with their type so reads
    can restore an ORDER-FAITHFUL native value (lexicographic ISO
    strings happen to sort correctly for dates, but Decimal strings do
    not — "9" > "10" — so decoding, not string comparison, is the
    rule)."""
    if isinstance(v, datetime.datetime):
        return "timestamp", v.isoformat()
    if isinstance(v, datetime.date):
        return "date", v.isoformat()
    if isinstance(v, decimal.Decimal):
        return "decimal", str(v)
    return None, v


def _stat_decode(tag, v):
    """Inverse of :func:`_stat_encode`; identity for untagged (legacy
    or JSON-native) bounds."""
    if v is None or tag is None:
        return v
    if tag == "timestamp":
        return datetime.datetime.fromisoformat(v)
    if tag == "date":
        return datetime.date.fromisoformat(v)
    if tag == "decimal":
        return decimal.Decimal(v)
    return v


def _zm_bounds(zm: dict):
    """Decoded (min, max) of one directory's zone map."""
    tag = zm.get("vtype")
    return _stat_decode(tag, zm["min"]), _stat_decode(tag, zm["max"])


def _zm_lookup(entry, col: str):
    """Zone map for ``col`` from one directory's stats entry. Entries
    are a single zone-map dict (single-key layouts) or a LIST of them
    (z-order layouts record one per clustering column); lookups are
    uniform so every pruner (merge, read_range, Bloom) bites on
    whichever clustering column the caller probes."""
    if entry is None:
        return None
    if isinstance(entry, list):
        for zm in entry:
            if zm.get("col") == col:
                return zm
        return None
    return entry if entry.get("col") == col else None


def _zm_rename(entry, old: str, new: str):
    """Rename a column inside a stats entry (dict or list form)."""
    if isinstance(entry, list):
        return [
            dict(zm, col=new) if zm.get("col") == old else zm
            for zm in entry
        ]
    return dict(entry, col=new) if entry.get("col") == old else entry


def _zm_drop(entry, col: str):
    """Drop ``col``'s zone map from a stats entry; None if nothing
    survives (caller omits the directory's entry entirely)."""
    if isinstance(entry, list):
        kept = [zm for zm in entry if zm.get("col") != col]
        if not kept:
            return None
        return kept if len(kept) > 1 else kept[0]
    return None if entry.get("col") == col else entry


def _make_stats(col: str, mn, mx) -> dict:
    tag_mn, enc_mn = _stat_encode(mn)
    tag_mx, enc_mx = _stat_encode(mx)
    zm = {"col": col, "min": enc_mn, "max": enc_mx}
    tag = tag_mn or tag_mx
    if tag is not None:
        zm["vtype"] = tag
    return zm


class CommitConflict(RuntimeError):
    """Another writer published this version first; re-read and retry."""


class SchemaEvolutionError(ValueError):
    """A batch's schema cannot evolve the table's schema (incompatible
    type change, e.g. string → int, or a narrowing)."""


#: safe widening ladders: a column may move UP a ladder across
#: commits, never down and never across (int→string etc. must be an
#: explicit rewrite, not a silent evolution).
_WIDEN_LADDERS = (
    ("byte", "short", "integer", "long"),
    ("float", "double"),
)


def _widen_type(a, b):
    """The wider of two Spark types along a safe ladder, else None."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    for ladder in _WIDEN_LADDERS:
        if an in ladder and bn in ladder:
            return a if ladder.index(an) >= ladder.index(bn) else b
    return None


def _evolve_schema(old, new):
    """Union of two schemas with widening: shared fields take the
    wider type (or raise), old-only fields persist (read NULL from
    new files and vice versa), new fields append in arrival order —
    the Delta/Iceberg 'mergeSchema' contract, enforced at COMMIT time
    so a bad batch bounces before any manifest is published."""
    from pyspark.sql import types as T

    if old is None:
        return new
    by_name = {f.name: f for f in new.fields}
    fields = []
    for f in old.fields:
        g = by_name.pop(f.name, None)
        if g is None:
            fields.append(f)
            continue
        w = _widen_type(f.dataType, g.dataType)
        if w is None:
            raise SchemaEvolutionError(
                f"column {f.name!r}: cannot evolve "
                f"{f.dataType.simpleString()} -> {g.dataType.simpleString()}"
            )
        fields.append(
            T.StructField(f.name, w, f.nullable or g.nullable)
        )
    for f in new.fields:  # preserve arrival order of added columns
        if f.name in by_name:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


class ConstraintViolation(ValueError):
    """A batch violated the table's declared constraints; nothing landed."""


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._versions_dir = os.path.join(self.root, "_versions")
        self._data_dir = os.path.join(self.root, "data")
        os.makedirs(self._versions_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    # ------------------------------------------------------------ manifests

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self._versions_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def head(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._versions_dir, f"v{version:05d}.json")

    def _load_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _publish(self, version: int, manifest: dict) -> None:
        """Atomic single-winner publish of one manifest version."""
        final = self._manifest_path(version)
        if os.path.exists(final):
            raise CommitConflict(
                f"version {version} already published at {final}"
            )
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        try:
            # Atomic on POSIX; os.rename refuses nothing, so guard the
            # race by linking: link() fails with EEXIST if a concurrent
            # writer won, leaving its manifest untouched.
            os.link(tmp, final)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {version} was published concurrently"
            ) from e
        finally:
            os.unlink(tmp)

    # -------------------------------------------------------------- writes

    def commit(
        self,
        df: DataFrame,
        *,
        mode: str = "append",
        operation: str | None = None,
        stats_col: str | None = None,
        bloom_bits: int | None = None,
        props: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Write ``df`` as a new snapshot version; returns the version.

        ``append`` carries forward the parent snapshot's files;
        ``overwrite`` starts from only the new files. Data lands
        before the manifest, so a crash mid-commit leaves orphan
        files (reclaimed by vacuum) but never a corrupt table.

        ``stats_col`` records a zone map (min/max of that column) for
        the new data directory in the manifest — one tiny aggregate at
        commit time that lets :meth:`merge` skip directories whose key
        range cannot intersect an update batch (the Delta/Iceberg
        data-skipping idea at directory granularity). ``bloom_bits``
        additionally records an m-bit Bloom filter of the column
        (distributed BIT_OR build, ~m/8 bytes of manifest) so merge
        can prune a directory even when a SPARSE batch's [min, max]
        envelope spans it — the zone map answers ranges, the Bloom
        answers membership.

        ``partition_by`` lays the new directory out Hive-style
        (``col=value`` subdirectories) and records the layout in the
        manifest, so :meth:`read_partitions` can later scan ONLY the
        subdirectories matching a value set — physical co-location
        for point-probe workloads (the incremental LSH band table
        probes by ``band_hash`` bucket, operators/dedup.py::
        LshDedupState). The partition columns stay part of the
        logical schema: full reads restore them from the directory
        names. ``merge``/``compact`` rewrite into UNpartitioned
        directories (reads handle the mix; re-commit with
        ``partition_by`` to restore the layout).
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        parent = self.head()
        version = (parent or 0) + 1
        cdir = f"c{version:05d}-{uuid.uuid4().hex[:8]}"
        w = df.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self._data_dir, cdir))
        # Stats/schema read back the WRITTEN files, not ``df``:
        # re-running the input plan would double-execute arbitrary
        # upstream work (and double-count any df.observe metrics
        # riding it).
        written = self.spark.read.parquet(os.path.join(self._data_dir, cdir))
        # Evolve-on-commit: append batches may add columns or widen
        # along a safe ladder; anything else raises BEFORE the
        # manifest publishes (the data dir is then an unreferenced
        # orphan for vacuum, never a corrupt table). A legacy table
        # (manifests predating schema tracking) stays schema-less —
        # recording only the batch's schema would mask legacy columns
        # on read — and keeps its mergeSchema read path.
        parent_schema = (
            self.schema(parent)
            if mode == "append" and parent is not None
            else None
        )
        if mode == "append" and parent is not None and parent_schema is None:
            schema = None
        else:
            schema = _evolve_schema(parent_schema, written.schema)
        dirs = [cdir]
        stats: dict[str, dict] = {}
        if stats_col is not None:
            from pyspark.sql import functions as F

            row = written.agg(
                F.min(stats_col).alias("mn"), F.max(stats_col).alias("mx")
            ).collect()[0]
            stats[cdir] = _make_stats(stats_col, row["mn"], row["mx"])
            if bloom_bits:
                from ..operators.bloom import build_bloom_bitset_agg

                stats[cdir]["bloom"] = {
                    "k": 3,
                    "words": build_bloom_bitset_agg(
                        written, stats_col, m_bits=bloom_bits
                    ),
                }
        partitioned = {cdir: list(partition_by)} if partition_by else {}
        renames = [] if parent is None else self._renames(parent)
        excluded: dict = {}
        if mode == "append" and parent is not None:
            pm = self._load_manifest(parent)
            dirs = pm["data_dirs"] + dirs
            stats = {**pm.get("stats", {}), **stats}
            partitioned = {**pm.get("partitioned", {}), **partitioned}
            excluded = pm.get("excluded", {})
        self._publish(
            version,
            {
                "version": version,
                "parent": parent,
                "operation": operation or mode,
                "data_dirs": dirs,
                "stats": stats,
                **({} if not partitioned else {"partitioned": partitioned}),
                **({} if not excluded else {"excluded": excluded}),
                **({} if schema is None else {"schema": schema.jsonValue()}),
                **({} if not renames else {"renames": renames}),
                "props": self._next_props(parent, props),
            },
        )
        return version

    # ------------------------------------------------- rename/drop lineage

    @staticmethod
    def _dir_version(d: str) -> int:
        """The version that WROTE a data directory (its c-prefix for
        commits/compactions, z-prefix for z-order compactions) — the
        anchor for rename lineage: renames published after this
        version apply to the directory's physical column names."""
        return int(d.split("-", 1)[0].lstrip("cz"))

    def _renames(self, version: int) -> list[dict]:
        return self._load_manifest(version).get("renames", [])

    @staticmethod
    def _physical_map(schema, renames: list[dict], w: int, v: int) -> dict:
        """logical-name → physical-name mapping for a directory
        written at version ``w``, read at version ``v`` (or → None if
        the logical column has no physical counterpart there and must
        read NULL). Back-walk the rename log to the candidate
        physical name, then forward-walk to confirm the lineage —
        the forward check is what keeps a column RE-ADDED after a
        drop from resurrecting tombstoned bytes of the same name."""
        ents = [e for e in renames if w < e["version"] <= v]
        if not ents:
            return {f.name: f.name for f in schema.fields}

        def back(name):
            for e in sorted(ents, key=lambda e: -e["version"]):
                if e["to"] == name:
                    name = e["from"]
            return name

        def fwd(name):
            for e in sorted(ents, key=lambda e: e["version"]):
                if e["from"] == name:
                    name = e["to"]
            return name

        out = {}
        for f in schema.fields:
            p = back(f.name)
            out[f.name] = p if fwd(p) == f.name else None
        return out

    def _check_renameable(self, col: str, head: int) -> None:
        m = self._load_manifest(head)
        for d, cols in m.get("partitioned", {}).items():
            if col in cols:
                raise SchemaEvolutionError(
                    f"column {col!r} is a Hive partition column of "
                    f"directory {d}; its name is baked into the "
                    "physical layout — compact/rewrite first"
                )

    def rename_column(
        self, old: str, new: str, *, operation: str | None = None
    ) -> int:
        """Metadata-only column rename (Iceberg-style): publishes a
        new version whose schema carries ``new`` in ``old``'s place
        and whose rename log records the lineage — NO data file is
        touched. Reads at or after this version surface old files'
        ``old`` bytes under ``new``; time travel before it still sees
        ``old``. Zone-map stats entries migrate with the name so
        merge pruning keeps biting."""
        head = self.head()
        if head is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        schema = self.schema(head)
        if schema is None:
            raise SchemaEvolutionError(
                "legacy table without a recorded schema cannot rename"
            )
        names = [f.name for f in schema.fields]
        if old not in names:
            raise SchemaEvolutionError(f"no column {old!r} to rename")
        if new in names:
            raise SchemaEvolutionError(f"column {new!r} already exists")
        self._check_renameable(old, head)
        from pyspark.sql import types as T

        m = self._load_manifest(head)
        version = head + 1
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        new_stats = {
            d: _zm_rename(zm, old, new)
            for d, zm in m.get("stats", {}).items()
        }
        self._publish(
            version,
            {
                "version": version,
                "parent": head,
                "operation": operation or f"rename({old}->{new})",
                "data_dirs": m["data_dirs"],
                "stats": new_stats,
                **(
                    {}
                    if not m.get("partitioned")
                    else {"partitioned": m["partitioned"]}
                ),
                "schema": new_schema.jsonValue(),
                "renames": [
                    *m.get("renames", []),
                    {"version": version, "from": old, "to": new},
                ],
                "props": self._next_props(head, None),
            },
        )
        return version

    def drop_column(self, col: str, *, operation: str | None = None) -> int:
        """Metadata-only column drop: the schema loses the field and
        the rename log tombstones the physical name, so (a) reads at
        or after this version never surface it, (b) time travel
        before it still does, and (c) a LATER column re-added under
        the same name reads NULL from pre-drop files instead of
        resurrecting their bytes (the Iceberg field-id guarantee,
        done with lineage instead of ids). No data file is
        touched."""
        head = self.head()
        if head is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        schema = self.schema(head)
        if schema is None:
            raise SchemaEvolutionError(
                "legacy table without a recorded schema cannot drop"
            )
        if col not in [f.name for f in schema.fields]:
            raise SchemaEvolutionError(f"no column {col!r} to drop")
        self._check_renameable(col, head)
        from pyspark.sql import types as T

        m = self._load_manifest(head)
        version = head + 1
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != col]
        )
        new_stats = {
            d: kept
            for d, kept in (
                (d, _zm_drop(zm, col))
                for d, zm in m.get("stats", {}).items()
            )
            if kept is not None
        }
        self._publish(
            version,
            {
                "version": version,
                "parent": head,
                "operation": operation or f"drop({col})",
                "data_dirs": m["data_dirs"],
                "stats": new_stats,
                **(
                    {}
                    if not m.get("partitioned")
                    else {"partitioned": m["partitioned"]}
                ),
                "schema": new_schema.jsonValue(),
                "renames": [
                    *m.get("renames", []),
                    {
                        "version": version,
                        "from": col,
                        "to": f"__dropped_v{version}_{col}",
                    },
                ],
                "props": self._next_props(head, None),
            },
        )
        return version

    def schema(self, version: int | None = None):
        """The table's logical schema at ``version`` (StructType), or
        None for legacy manifests that never recorded one."""
        from pyspark.sql import types as T

        v = self.head() if version is None else version
        if v is None:
            return None
        sj = self._load_manifest(v).get("schema")
        return None if sj is None else T.StructType.fromJson(sj)

    def _read_dirs(
        self,
        dirs: list[str],
        schema,
        partitioned: dict | None = None,
        renames: list[dict] | None = None,
        version: int | None = None,
        excluded: dict | None = None,
    ) -> DataFrame:
        """Read data directories at the table's logical schema: files
        written before an evolution are up-cast (safe-ladder widening)
        and missing columns read NULL — the Spark 4 parquet reader
        does both given an explicit target schema, with pushdown and
        pruning intact. Legacy tables without a recorded schema fall
        back to mergeSchema (which cannot widen, but such tables never
        evolved).

        Hive-partitioned directories (``partition_by`` commits) are
        each scanned with their own ``basePath`` so Spark restores the
        partition columns from the subdirectory names (multiple
        partitioned roots in ONE scan would need a common kv-only
        ancestor, which the ``c<version>-<token>`` layer breaks);
        unpartitioned directories still go through a single
        multi-path scan, and the two unify by name. Filters on a
        partition column prune subdirectories per normal Hive-layout
        partition pruning.

        Renamed/dropped columns (``rename_column``/``drop_column``)
        resolve per directory: a directory written before a rename is
        scanned under its PHYSICAL column names (the logical names as
        of its write version) and aliased to the logical schema;
        dirs sharing a mapping batch into one scan, and the common
        no-renames case stays the single multi-path scan. Filters
        still push down — an alias is transparent to Catalyst.

        ``excluded`` (``{dir: {col: [values]}}``, recorded by
        :meth:`replace_partitions`) drops the named ``col=value``
        subdirectories of a Hive-partitioned directory from the scan:
        the included leaves are enumerated explicitly under the dir's
        ``basePath``, so partition-column restoration and pruning
        behave exactly as a whole-dir scan."""
        from pyspark.sql import types as T

        from pyspark.sql import functions as F

        part = partitioned or {}
        rens = renames or []

        def mapping_for(d):
            """logical→physical map, or None for identity/legacy."""
            if schema is None or not rens:
                return None
            v = version if version is not None else rens[-1]["version"]
            mp = self._physical_map(
                schema, rens, self._dir_version(d), v
            )
            if all(mp[f.name] == f.name for f in schema.fields):
                return None
            return mp

        def project(dfr, mp):
            return dfr.select(
                *[
                    F.col(mp[f.name]).alias(f.name)
                    if mp[f.name] is not None
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )

        def phys_schema(mp):
            return T.StructType(
                [
                    T.StructField(mp[f.name], f.dataType, True)
                    for f in schema.fields
                    if mp[f.name] is not None
                ]
            )

        # group unpartitioned dirs by mapping so each group is ONE scan
        groups: dict = {}
        for d in dirs:
            if d in part:
                continue
            mp = mapping_for(d)
            key = (
                None
                if mp is None
                else tuple(sorted((k, v) for k, v in mp.items()))
            )
            groups.setdefault(key, (mp, []))[1].append(d)
        frames = []
        for _, (mp, ds) in groups.items():
            paths = [os.path.join(self._data_dir, d) for d in ds]
            if schema is None:
                frames.append(
                    self.spark.read.option("mergeSchema", "true").parquet(
                        *paths
                    )
                )
            elif mp is None:
                frames.append(self.spark.read.schema(schema).parquet(*paths))
            else:
                frames.append(
                    project(
                        self.spark.read.schema(phys_schema(mp)).parquet(
                            *paths
                        ),
                        mp,
                    )
                )
        excl = excluded or {}
        for d in dirs:
            if d not in part:
                continue
            p = os.path.join(self._data_dir, d)
            paths = [p]
            dexcl = excl.get(d)
            if dexcl and part[d] and part[d][0] in dexcl:
                pcol = part[d][0]
                gone = set(dexcl[pcol])
                paths = [
                    os.path.join(p, sub)
                    for sub in sorted(os.listdir(p))
                    if sub.startswith(f"{pcol}=")
                    and sub.split("=", 1)[1] not in gone
                ]
                if not paths:
                    continue  # every live leaf replaced elsewhere
            r = self.spark.read.option("basePath", p)
            mp = mapping_for(d)
            if schema is None:
                frames.append(
                    r.option("mergeSchema", "true").parquet(*paths)
                )
            elif mp is None:
                frames.append(r.schema(schema).parquet(*paths))
            else:
                # partition columns are rename-protected, so they map
                # identically and still restore from the dir names
                frames.append(
                    project(r.schema(phys_schema(mp)).parquet(*paths), mp)
                )
        if not frames:
            # every requested dir fully excluded (replace_partitions
            # normally drops such dirs from the manifest; this is the
            # defensive mirror) — empty frame at the logical schema
            return self.spark.createDataFrame([], schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=schema is None)
        return out

    def _next_props(self, parent: int | None, props: dict | None) -> dict:
        """Table properties for a new manifest: the parent's, overlaid
        with the commit's updates. Carrying properties in EVERY
        manifest (not a sidecar) makes them atomic with the commit and
        immune to vacuum — the exactly-once stream watermark
        (streaming/ops.py::incremental_agg_sink) depends on both."""
        base = {}
        if parent is not None:
            base = dict(self._load_manifest(parent).get("props", {}))
        if props:
            base.update(props)
        return base

    def get_props(self, version: int | None = None) -> dict:
        v = self.head() if version is None else version
        if v is None:
            return {}
        return self._load_manifest(v).get("props", {})

    def merge(
        self,
        updates: DataFrame | None,
        key: str,
        *,
        deletes: DataFrame | None = None,
        stats_col: str | None = None,
        operation: str | None = None,
        bloom_bits: int | None = None,
        props: dict | None = None,
    ) -> int:
        """MERGE (upsert + delete) with zone-map directory pruning.

        Semantics: rows of the head snapshot whose ``key`` appears in
        ``updates`` (or ``deletes``) are replaced (or dropped); new
        keys in ``updates`` are inserted. Copy-on-write at DIRECTORY
        granularity: a directory whose recorded [min, max] zone map
        cannot contain any touched key is carried forward verbatim —
        no read, no rewrite — so a merge that touches one day of a
        date-keyed table rewrites one day, not 100 TB. Directories
        without a zone map (or with a different stats column) are
        conservatively rewritten. The touched-key bound is the
        batch's [min, max]; when a directory also carries a Bloom
        filter (``bloom_bits`` at commit/merge time), a sparse
        scattered batch whose envelope spans the directory can still
        prune it: the batch keys are probed against the directory's
        bitset (one tiny Spark job per candidate directory, batch
        keys never collected) and a zero-hit directory is carried
        forward. False positives only cost an unnecessary rewrite;
        false negatives are impossible for recorded keys, so
        correctness never depends on the filter.

        ``updates``/``deletes`` are driver-side-bounded only in their
        min/max aggregate; row data stays distributed throughout.
        """
        from pyspark.sql import functions as F

        head = self.head()
        if head is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        touched = None
        for batch in (updates, deletes):
            if batch is None:
                continue
            r = batch.agg(
                F.min(key).alias("mn"), F.max(key).alias("mx")
            ).collect()[0]
            if r["mn"] is None:
                continue
            lo, hi = r["mn"], r["mx"]
            touched = (
                (lo, hi)
                if touched is None
                else (min(touched[0], lo), max(touched[1], hi))
            )
        manifest = self._load_manifest(head)
        stats = manifest.get("stats", {})
        keep_dirs, rewrite_dirs = [], []
        for d in manifest["data_dirs"]:
            zm = _zm_lookup(stats.get(d), key)
            prunable = False
            if touched is not None and zm is not None:
                mn, mx = _zm_bounds(zm)
                prunable = mn is not None and (
                    mx < touched[0] or mn > touched[1]
                )
            (keep_dirs if prunable else rewrite_dirs).append(d)
        if touched is not None and rewrite_dirs:
            # Bloom pass: range-overlapping dirs with a bitset can
            # still prove no batch key lives there.
            from ..operators.bloom import bloom_might_contain

            frames = [
                b.select(F.col(key).cast("string").alias("__k"))
                for b in (updates, deletes)
                if b is not None
            ]
            keys_df = frames[0]
            for fdf in frames[1:]:
                keys_df = keys_df.unionByName(fdf)
            keys_df = keys_df.distinct().persist()
            try:
                still = []
                for d in rewrite_dirs:
                    zm = _zm_lookup(stats.get(d), key)
                    bl = (zm or {}).get("bloom")
                    if bl:
                        hit = (
                            keys_df.filter(
                                bloom_might_contain(
                                    F.col("__k"), bl["words"], k=bl["k"]
                                )
                            )
                            .limit(1)
                            .count()
                        )
                        if hit == 0:
                            keep_dirs.append(d)
                            continue
                    still.append(d)
                rewrite_dirs = still
            finally:
                keys_df.unpersist()
        version = head + 1
        new_dirs = list(keep_dirs)
        new_stats = {d: stats[d] for d in keep_dirs if d in stats}
        part_map = manifest.get("partitioned", {})
        new_part = {d: part_map[d] for d in keep_dirs if d in part_map}
        excl_map = manifest.get("excluded", {})
        new_excl = {d: excl_map[d] for d in keep_dirs if d in excl_map}
        new_schema = self.schema(head)  # evolves if updates add/widen
        if rewrite_dirs or updates is not None:
            parts = []
            if rewrite_dirs:
                # read at the table's logical schema, so a merge after
                # an evolution up-casts pre-evolution directories as
                # it rewrites them
                old = self._read_dirs(
                    rewrite_dirs,
                    self.schema(head),
                    part_map,
                    self._renames(head),
                    head,
                    manifest.get("excluded", {}),
                )
                gone = [
                    b.select(F.col(key).alias("__k")).distinct()
                    for b in (updates, deletes)
                    if b is not None
                ]
                for g in gone:
                    old = old.join(
                        g, old[key] == g["__k"], "left_anti"
                    )
                parts.append(old)
            if updates is not None:
                parts.append(updates)
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p, allowMissingColumns=True)
            cdir = f"c{version:05d}-{uuid.uuid4().hex[:8]}"
            merged.write.parquet(os.path.join(self._data_dir, cdir))
            new_dirs.append(cdir)
            written = self.spark.read.parquet(
                os.path.join(self._data_dir, cdir)
            )
            if new_schema is not None:
                new_schema = _evolve_schema(new_schema, written.schema)
            sc = stats_col or key
            row = written.agg(
                F.min(sc).alias("mn"), F.max(sc).alias("mx")
            ).collect()[0]
            new_stats[cdir] = _make_stats(sc, row["mn"], row["mx"])
            if bloom_bits:
                from ..operators.bloom import build_bloom_bitset_agg

                new_stats[cdir]["bloom"] = {
                    "k": 3,
                    "words": build_bloom_bitset_agg(
                        self.spark.read.parquet(
                            os.path.join(self._data_dir, cdir)
                        ),
                        sc,
                        m_bits=bloom_bits,
                    ),
                }
        self._publish(
            version,
            {
                "version": version,
                "parent": head,
                "operation": operation or f"merge(key={key})",
                "data_dirs": new_dirs,
                "stats": new_stats,
                **({} if not new_part else {"partitioned": new_part}),
                **({} if not new_excl else {"excluded": new_excl}),
                **(
                    {}
                    if not self._renames(head)
                    else {"renames": self._renames(head)}
                ),
                **(
                    {}
                    if new_schema is None
                    else {"schema": new_schema.jsonValue()}
                ),
                "props": self._next_props(head, props),
            },
        )
        return version

    def replace_partitions(
        self,
        col: str,
        values,
        replacement: DataFrame | None = None,
        *,
        operation: str | None = None,
        props: dict | None = None,
    ) -> int:
        """Dynamic partition overwrite (the Hive/Delta
        ``replaceWhere`` primitive): atomically publish a version in
        which the ``col=value`` partitions for ``values`` contain
        EXACTLY ``replacement``'s rows (none, if ``replacement`` is
        None/empty) and every other partition is untouched.

        Cost is O(touched partitions), not O(table): directories
        Hive-partitioned on ``col`` are never rewritten — the manifest
        records their touched subdirectories as ``excluded`` and every
        read path (read / read_range / read_partitions / merge /
        read_changes) skips those leaves, so untouched ``col=``
        leaves are carried forward VERBATIM and physical pruning is
        preserved. Only directories NOT partitioned on ``col``
        (legacy commits, merge rewrites) are conservatively rewritten
        minus the replaced values; their surviving rows land in the
        new directory, which is itself partitioned on ``col``.

        ``replacement`` must only contain rows with ``col`` in
        ``values`` — silently widening the replaced set would make
        "every other partition is untouched" a lie, so that raises.
        A directory whose every physical leaf ends up excluded leaves
        the manifest entirely (vacuum reclaims it); excluded leaves
        inside still-live directories are reclaimed when a later
        :meth:`compact` rewrites the table (vacuum is
        directory-granular).

        This is the deletion/correction path for cell-partitioned
        index state (operators/ann_index.py::PqIvfIndexState.
        remove_ids — the FAISS ``remove_ids`` analog): delete =
        replace the touched cells with their survivors."""
        from pyspark.sql import functions as F

        head = self.head()
        if head is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        svals = {str(v) for v in values}
        if not svals:
            if (
                replacement is not None
                and not replacement.isEmpty()
            ):
                raise ValueError(
                    "replacement rows supplied but no values to "
                    "replace — an append in disguise"
                )
            return head
        if replacement is not None:
            bad = (
                replacement.filter(
                    ~F.col(col).cast("string").isin(list(svals))
                    | F.col(col).isNull()
                )
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"replacement rows outside the replaced "
                    f"{col} values {sorted(svals)}"
                )
        m = self._load_manifest(head)
        part = m.get("partitioned", {})
        rens = m.get("renames", [])
        stats = m.get("stats", {})
        old_excl = m.get("excluded", {})
        schema = self.schema(head)
        version = head + 1

        keep_dirs: list[str] = []
        new_excl: dict = {}
        rewrite_dirs: list[str] = []
        for d in m["data_dirs"]:
            if part.get(d) == [col]:
                p = os.path.join(self._data_dir, d)
                prev = set((old_excl.get(d) or {}).get(col, ()))
                phys = {
                    sub.split("=", 1)[1]
                    for sub in os.listdir(p)
                    if sub.startswith(f"{col}=")
                }
                gone = prev | (phys & svals)
                if phys and phys <= gone:
                    continue  # no live leaf left: drop the dir
                keep_dirs.append(d)
                if gone:
                    new_excl[d] = {col: sorted(gone)}
            else:
                keep_dirs.append(d)
                if d in old_excl:
                    new_excl[d] = old_excl[d]
                # can this dir hold replaced rows? conservatively yes
                # unless its zone map on ``col`` proves otherwise
                rewrite_dirs.append(d)
        if rewrite_dirs and svals:
            survivors = self._read_dirs(
                rewrite_dirs, schema, part, rens, head, old_excl
            ).filter(
                ~F.col(col).cast("string").isin(list(svals))
                | F.col(col).isNull()
            )
            keep_dirs = [d for d in keep_dirs if d not in set(rewrite_dirs)]
            for d in rewrite_dirs:
                new_excl.pop(d, None)
            replacement = (
                survivors
                if replacement is None
                else replacement.unionByName(
                    survivors, allowMissingColumns=True
                )
            )
        new_dirs = list(keep_dirs)
        new_stats = {d: stats[d] for d in keep_dirs if d in stats}
        new_part = {d: part[d] for d in keep_dirs if d in part}
        new_schema = schema
        if replacement is not None and not replacement.isEmpty():
            cdir = f"c{version:05d}-{uuid.uuid4().hex[:8]}"
            path = os.path.join(self._data_dir, cdir)
            replacement.write.partitionBy(col).parquet(path)
            written = self.spark.read.parquet(path)
            if new_schema is not None:
                new_schema = _evolve_schema(new_schema, written.schema)
            new_dirs.append(cdir)
            new_part[cdir] = [col]
        if not new_dirs and new_schema is None:
            raise ValueError(
                "replace_partitions would leave an empty LEGACY table "
                "(no recorded schema to serve empty reads from) — "
                "refusing"
            )
        self._publish(
            version,
            {
                "version": version,
                "parent": head,
                "operation": operation or f"replace_partitions({col})",
                "data_dirs": new_dirs,
                "stats": new_stats,
                **({} if not new_part else {"partitioned": new_part}),
                **({} if not new_excl else {"excluded": new_excl}),
                **({} if not rens else {"renames": rens}),
                **(
                    {}
                    if new_schema is None
                    else {"schema": new_schema.jsonValue()}
                ),
                "props": self._next_props(head, props),
            },
        )
        return version

    def rollback(self, to_version: int) -> int:
        """Publish a new head whose snapshot is ``to_version``'s.

        Table properties come from the CURRENT head, not the rollback
        target: props like the stream watermark are monotone guards,
        not snapshot content, and rewinding them would re-admit
        already-applied micro-batches."""
        old = self._load_manifest(to_version)
        parent = self.head()
        version = (parent or 0) + 1
        self._publish(
            version,
            {
                "version": version,
                "parent": parent,
                "operation": f"rollback({to_version})",
                "data_dirs": old["data_dirs"],
                "stats": old.get("stats", {}),
                **(
                    {}
                    if not old.get("partitioned")
                    else {"partitioned": old["partitioned"]}
                ),
                **(
                    {}
                    if not old.get("excluded")
                    else {"excluded": old["excluded"]}
                ),
                **(
                    {}
                    if not old.get("renames")
                    else {"renames": old["renames"]}
                ),
                **(
                    {}
                    if old.get("schema") is None
                    else {"schema": old["schema"]}
                ),
                "props": self._next_props(parent, None),
            },
        )
        return version

    # --------------------------------------------------------------- reads

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read at ``version`` (default: current head), at
        that version's recorded logical schema: appends may add
        columns (absent columns read NULL from older files) or widen
        types along a safe ladder (older files up-cast at scan time)
        without rewriting history. Time travel reads the schema AS OF
        the version — a column added later is invisible at v-1."""
        v = self.head() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        m = self._load_manifest(v)
        return self._read_dirs(
            m["data_dirs"],
            self.schema(v),
            m.get("partitioned", {}),
            m.get("renames", []),
            v,
            m.get("excluded", {}),
        )

    def read_range(
        self, key: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Zone-map-pruned snapshot read: only the directories whose
        recorded [min, max] for ``key`` can intersect [lo, hi].
        Directories without a zone map for ``key`` are conservatively
        included, so the result always contains every row with
        ``key`` ∈ [lo, hi] (it may contain others — filter if exact
        bounds matter). This is the READ half of what :meth:`merge`
        does for writes; an incremental consumer touching one key
        range scans one range's directories, not the table.
        """
        v = self.head() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        m = self._load_manifest(v)
        stats = m.get("stats", {})
        dirs = []
        for d in m["data_dirs"]:
            zm = _zm_lookup(stats.get(d), key)
            prunable = False
            if zm is not None:
                mn, mx = _zm_bounds(zm)
                prunable = mn is not None and (mx < lo or mn > hi)
            if not prunable:
                dirs.append(d)
        if not dirs:
            return self.read(v).limit(0)
        return self._read_dirs(
            dirs,
            self.schema(v),
            m.get("partitioned", {}),
            m.get("renames", []),
            v,
            m.get("excluded", {}),
        )

    def read_partitions(
        self, col: str, values, version: int | None = None
    ) -> DataFrame:
        """Physically-pruned snapshot read for Hive-partitioned
        commits: scan ONLY the ``col=value`` subdirectories matching
        ``values`` — the probe side of a point-lookup workload (the
        incremental LSH band-table probe reads just the batch's
        ``band_hash`` buckets). The scan is an explicit leaf-path
        list, so no Exchange and no partition discovery are involved;
        the partition column itself is OMITTED from the result (its
        value is implied by the paths — re-derive it if needed).
        Unpartitioned directories (legacy commits, merge rewrites)
        can't be pruned this way and are conservatively included in
        full, so the result is always a superset of the matching
        rows, never a subset. Rename lineage applies here exactly as
        in :meth:`read`: pre-rename leaf files are scanned under
        their physical names and aliased (grouped per mapping, so the
        common no-renames case is one scan)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        v = self.head() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        m = self._load_manifest(v)
        part = m.get("partitioned", {})
        rens = m.get("renames", [])
        excl = m.get("excluded", {})
        schema = self.schema(v)
        leaf_schema = schema
        if schema is not None:
            leaf_schema = T.StructType(
                [f for f in schema.fields if f.name != col]
            )
        wanted = {str(x) for x in values}
        frames = []
        leaf_groups: dict = {}  # mapping signature -> (map, [paths])
        for d in m["data_dirs"]:
            p = os.path.join(self._data_dir, d)
            if part.get(d) == [col]:
                mp = None
                if leaf_schema is not None and rens:
                    cand = self._physical_map(
                        leaf_schema, rens, self._dir_version(d), v
                    )
                    if any(
                        cand[f.name] != f.name for f in leaf_schema.fields
                    ):
                        mp = cand
                key = (
                    None
                    if mp is None
                    else tuple(sorted((k, x) for k, x in mp.items()))
                )
                g = leaf_groups.setdefault(key, (mp, []))[1]
                gone = set((excl.get(d) or {}).get(col, ()))
                for sub in os.listdir(p):
                    if not sub.startswith(f"{col}="):
                        continue
                    val = sub.split("=", 1)[1]
                    if val in wanted and val not in gone:
                        g.append(os.path.join(p, sub))
            else:
                # legacy/unpartitioned (or partitioned on another
                # column): no physical pruning possible — include
                # whole, minus the partition column if present
                full = self._read_dirs([d], schema, part, rens, v, excl)
                frames.append(
                    full.drop(col) if col in full.columns else full
                )
        for mp, leaves in leaf_groups.values():
            if not leaves:
                continue
            r = self.spark.read
            if leaf_schema is None:
                frames.append(r.parquet(*leaves))
            elif mp is None:
                frames.append(r.schema(leaf_schema).parquet(*leaves))
            else:
                phys = T.StructType(
                    [
                        T.StructField(mp[f.name], f.dataType, True)
                        for f in leaf_schema.fields
                        if mp[f.name] is not None
                    ]
                )
                frames.append(
                    r.schema(phys)
                    .parquet(*leaves)
                    .select(
                        *[
                            F.col(mp[f.name]).alias(f.name)
                            if mp[f.name] is not None
                            else F.lit(None)
                            .cast(f.dataType)
                            .alias(f.name)
                            for f in leaf_schema.fields
                        ]
                    )
                )
        if not frames:
            return self.read(v).drop(col).limit(0)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def compact(
        self,
        key: str,
        *,
        n_dirs: int = 4,
        bloom_bits: int | None = None,
        operation: str | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Rewrite the head snapshot into ``n_dirs`` KEY-RANGE-sliced
        directories — the lakehouse OPTIMIZE step. A table fed by
        many small commits (streaming sinks publish one directory per
        micro-batch) degrades two ways: tiny files, and zone maps
        whose ranges all overlap (every batch spans the key space), so
        merge/read_range pruning stops biting. Compaction restores
        both: each output directory covers a disjoint key range (exact
        zone map recorded, optional Bloom), so a later point/range
        touch rewrites or scans 1/``n_dirs`` of the table.

        Range boundaries come from ``approxQuantile`` (driver-side
        scalars, numeric keys — map date keys through their epoch
        first). Snapshot semantics are untouched: the result is one
        new version referencing only the new directories; prior
        versions still time-travel until :meth:`vacuum`.

        NULL-key rows (legal — e.g. a NULL group-by key in an
        incremental-agg state table) ride the FIRST slice: every
        range predicate evaluates to NULL for them, so without the
        explicit ``isNull`` disjunct they would match no slice and
        silently vanish from the compacted snapshot. Their slice's
        zone map still records only the non-null [min, max] — merge
        pruning is unaffected because a NULL key can never equal a
        batch key, so carrying the directory forward is always safe.

        ``partition_by`` lays each output slice out Hive-partitioned
        (recorded in the manifest like a ``commit(partition_by=...)``)
        — the OPTIMIZE step for point-probe tables: a streaming LSH
        band table that has accumulated one bucket-partitioned
        directory per micro-batch collapses to ``n_dirs`` directories
        (usually 1) whose bucket subdirectories each hold ~1 file, so
        a probe lists n_dirs × touched buckets instead of
        n_batches × touched buckets. Slices are repartitioned on the
        partition columns and sorted within partitions (a global sort
        on ``key`` would fight the bucket layout)."""
        head = self.head()
        if head is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        from pyspark.sql import functions as F

        df = self.read().persist()
        try:
            if n_dirs > 1:
                probs = [i / n_dirs for i in range(1, n_dirs)]
                cuts = df.stat.approxQuantile(key, probs, 0.001)
            else:
                cuts = []
            # dedupe: a skewed key can repeat a cut; slices stay disjoint
            bounds = []
            for c in cuts:
                if not bounds or c > bounds[-1]:
                    bounds.append(c)
            lows = [None] + bounds
            highs = bounds + [None]
            version = head + 1
            new_dirs, new_stats = [], {}
            new_part = {}
            for lo, hi in zip(lows, highs):
                sl = df
                if lo is not None:
                    sl = sl.filter(F.col(key) > lo)
                elif hi is not None:
                    # first slice of several: NULL keys match no range
                    # predicate — claim them here or lose them
                    sl = sl.filter(
                        (F.col(key) <= hi) | F.col(key).isNull()
                    )
                    hi = None  # filter already applied
                if hi is not None:
                    sl = sl.filter(F.col(key) <= hi)
                cdir = f"c{version:05d}-{uuid.uuid4().hex[:8]}"
                path = os.path.join(self._data_dir, cdir)
                if partition_by:
                    (
                        sl.repartition(*partition_by)
                        .sortWithinPartitions(*partition_by, key)
                        .write.partitionBy(*partition_by)
                        .parquet(path)
                    )
                else:
                    sl.sort(key).write.parquet(path)
                written = self.spark.read.parquet(path)
                row = written.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min(key).alias("mn"),
                    F.max(key).alias("mx"),
                ).collect()[0]
                if row["n"] == 0:  # empty slice (heavy skew): drop
                    # (count, not min-is-null — an all-NULL-key slice
                    # is non-empty and must land)
                    shutil.rmtree(path)
                    continue
                new_dirs.append(cdir)
                if partition_by:
                    new_part[cdir] = list(partition_by)
                new_stats[cdir] = _make_stats(key, row["mn"], row["mx"])
                if bloom_bits:
                    from ..operators.bloom import build_bloom_bitset_agg

                    new_stats[cdir]["bloom"] = {
                        "k": 3,
                        "words": build_bloom_bitset_agg(
                            written, key, m_bits=bloom_bits
                        ),
                    }
            schema = self.schema(head)
            self._publish(
                version,
                {
                    "version": version,
                    "parent": head,
                    "operation": operation or f"compact(key={key})",
                    "data_dirs": new_dirs,
                    "stats": new_stats,
                    **({} if not new_part else {"partitioned": new_part}),
                    **(
                        {}
                        if not self._renames(head)
                        else {"renames": self._renames(head)}
                    ),
                    **(
                        {}
                        if schema is None
                        else {"schema": schema.jsonValue()}
                    ),
                    "props": self._next_props(head, None),
                },
            )
        finally:
            df.unpersist()
        return version

    def compact_zorder(
        self,
        cols: list[str],
        *,
        n_dirs: int = 4,
        bits: int = 12,
        operation: str | None = None,
    ) -> int:
        """Rewrite the head snapshot clustered on a Z-ORDER curve over
        ``cols`` — the multi-column OPTIMIZE (Delta ``ZORDER BY`` /
        Iceberg sort-order parity). :meth:`compact` slices one key's
        range, so pruning on any OTHER column degrades to full scans;
        interleaving the bits of several columns' positions gives
        every clustering column locality, so each output directory
        covers a small sub-rectangle of the key space and zone-map
        pruning bites on whichever column a merge or read probes.

        Mechanics: each column is mapped to a ``2**bits``-bin
        equi-width position between its global min and max (one
        2-value aggregate per column; NULLs ride bin 0 — never
        dropped, mirroring compact()'s NULL-key rule), bit positions
        are interleaved column-round-robin into a single z value, and
        the table is sliced into ``n_dirs`` z-ranges by approximate
        z-quantiles (skew-robust where equi-width z-slicing is not),
        each written sorted by z. The manifest records a LIST of zone
        maps per directory — one per clustering column — which
        :func:`_zm_lookup` makes transparent to every existing pruner
        (merge, read_range, Bloom).

        Equi-width (not rank) binning is deliberate: it needs only
        min/max, is fully distributed, and z-quantile slicing absorbs
        the skew equi-width binning leaves behind. At 100 TB this is
        one scan to bin + range-exchange on z + one write; no
        driver-side state beyond 2 scalars per column and the
        n_dirs−1 z cuts. Numeric columns only (map dates through
        their epoch first, like compact())."""
        if len(cols) < 2:
            raise ValueError("z-order needs >= 2 clustering columns")
        head = self.head()
        if head is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        from pyspark.sql import functions as F

        df = self.read().persist()
        try:
            bounds_row = df.agg(
                *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
                *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
            ).collect()[0]
            nbins = 1 << bits
            k = len(cols)
            z = F.lit(0).cast("long")
            for i, c in enumerate(cols):
                mn = bounds_row[f"mn_{i}"]
                mx = bounds_row[f"mx_{i}"]
                if mn is None or mx is None or float(mx) == float(mn):
                    binned = F.lit(0).cast("long")
                else:
                    span = float(mx) - float(mn)
                    pos = F.floor(
                        (F.col(c).cast("double") - F.lit(float(mn)))
                        / F.lit(span)
                        * F.lit(nbins)
                    )
                    binned = F.coalesce(
                        F.least(
                            F.greatest(pos, F.lit(0)),
                            F.lit(nbins - 1),
                        ),
                        F.lit(0),
                    ).cast("long")
                for j in range(bits):
                    bit = F.shiftright(binned, j).bitwiseAND(F.lit(1))
                    z = z.bitwiseOR(F.shiftleft(bit, j * k + i))
            zdf = df.withColumn("__z", z).persist()
            if n_dirs > 1:
                probs = [i / n_dirs for i in range(1, n_dirs)]
                cuts = zdf.stat.approxQuantile("__z", probs, 0.001)
            else:
                cuts = []
            zbounds: list[float] = []
            for c in cuts:
                if not zbounds or c > zbounds[-1]:
                    zbounds.append(c)
            lows = [None] + zbounds
            highs = zbounds + [None]
            version = head + 1
            new_dirs, new_stats = [], {}
            for lo, hi in zip(lows, highs):
                sl = zdf
                if lo is not None:
                    sl = sl.filter(F.col("__z") > lo)
                if hi is not None:
                    sl = sl.filter(F.col("__z") <= hi)
                cdir = f"z{version:05d}-{uuid.uuid4().hex[:8]}"
                path = os.path.join(self._data_dir, cdir)
                sl.sort("__z").drop("__z").write.parquet(path)
                written = self.spark.read.parquet(path)
                row = written.agg(
                    F.count(F.lit(1)).alias("n"),
                    *[
                        F.min(c).alias(f"mn_{i}")
                        for i, c in enumerate(cols)
                    ],
                    *[
                        F.max(c).alias(f"mx_{i}")
                        for i, c in enumerate(cols)
                    ],
                ).collect()[0]
                if row["n"] == 0:
                    shutil.rmtree(path)
                    continue
                new_dirs.append(cdir)
                new_stats[cdir] = [
                    _make_stats(c, row[f"mn_{i}"], row[f"mx_{i}"])
                    for i, c in enumerate(cols)
                ]
            schema = self.schema(head)
            self._publish(
                version,
                {
                    "version": version,
                    "parent": head,
                    "operation": operation
                    or f"compact_zorder(cols={list(cols)})",
                    "data_dirs": new_dirs,
                    "stats": new_stats,
                    **(
                        {}
                        if not self._renames(head)
                        else {"renames": self._renames(head)}
                    ),
                    **(
                        {}
                        if schema is None
                        else {"schema": schema.jsonValue()}
                    ),
                    "props": self._next_props(head, None),
                },
            )
            zdf.unpersist()
        finally:
            df.unpersist()
        return version

    # -------------------------------------------------------------- vacuum

    def vacuum(
        self, *, keep_last: int = 1, grace_seconds: float = 0.0
    ) -> list[str]:
        """Drop manifests beyond the last ``keep_last`` and delete data
        directories no retained manifest references. Returns the
        deleted directory names. Time travel earlier than the retained
        window is gone after this — that's the storage/history trade.

        Concurrent-writer safety: a commit writes its data directory
        BEFORE publishing its manifest, so an unreferenced directory
        whose ``c<version>`` prefix exceeds the max retained version is
        an in-flight commit, not garbage — it is always skipped (the
        loser of a publish race rewrites into a fresh directory on
        retry, so its abandoned dir becomes reclaimable once the head
        passes it). ``grace_seconds`` additionally skips directories
        younger than the given age as a clock-based belt for exotic
        schedulers.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        import time

        vs = self.versions()
        keep, drop = vs[-keep_last:], vs[:-keep_last]
        live: set[str] = set()
        for v in keep:
            live.update(self._load_manifest(v)["data_dirs"])
        max_kept = keep[-1] if keep else 0
        now = time.time()
        removed = []
        for d in os.listdir(self._data_dir):
            if d in live:
                continue
            try:
                dir_version = int(d.split("-", 1)[0].lstrip("c"))
            except ValueError:
                dir_version = None
            if dir_version is not None and dir_version > max_kept:
                continue  # in-flight commit racing this vacuum
            path = os.path.join(self._data_dir, d)
            if grace_seconds and now - os.path.getmtime(path) < grace_seconds:
                continue
            shutil.rmtree(path)
            removed.append(d)
        for v in drop:
            os.unlink(self._manifest_path(v))
        return sorted(removed)

    def history(self) -> list[dict]:
        """Commit log, oldest first: version/parent/operation."""
        out = []
        for v in self.versions():
            m = self._load_manifest(v)
            out.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "operation": m["operation"],
                }
            )
        return out

    # ---------------------------------------------------------------- diff

    def diff(self, v_old: int, v_new: int, key: str) -> DataFrame:
        """Row-level change set between two snapshots, keyed by ``key``:
        one frame with a ``change`` column ∈ {added, removed, changed}.

        'changed' compares an xxhash64 over every shared non-key
        column (name-sorted, so column order drift doesn't read as
        change; ``-1``-seeded nulls hash distinctly from empty
        strings). Shape: two anti-joins + one inner join on the key —
        three keyed shuffles regardless of table width, no collect.
        The corpus-build use: ``diff(prev_build, new_build, "doc_id")``
        audits exactly which documents a pipeline change added,
        dropped, or altered.
        """
        from pyspark.sql import functions as F

        a, b = self.read(v_old), self.read(v_new)
        shared = sorted(
            (set(a.columns) & set(b.columns)) - {key}
        )

        def hashed(df: DataFrame) -> DataFrame:
            cols = [
                F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                for c in shared
            ]
            return df.select(
                F.col(key), F.xxhash64(*cols).alias("__h")
            )

        ha, hb = hashed(a), hashed(b)
        added = hb.join(ha, key, "left_anti").select(
            F.col(key), F.lit("added").alias("change")
        )
        removed = ha.join(hb, key, "left_anti").select(
            F.col(key), F.lit("removed").alias("change")
        )
        changed = (
            ha.alias("o")
            .join(hb.alias("n"), key)
            .filter(F.col("o.__h") != F.col("n.__h"))
            .select(F.col(key), F.lit("changed").alias("change"))
        )
        return added.unionByName(removed).unionByName(changed)

    # --------------------------------------------- incremental consumption

    def read_changes(
        self, since_version: int | None, to_version: int | None = None
    ) -> DataFrame:
        """Rows APPENDED strictly after ``since_version`` up to
        ``to_version`` (default head) — the change-data-feed read an
        incremental consumer wants: scan ONLY the data directories new
        manifests added, never re-read history. ``since_version=None``
        (or 0) returns the full snapshot (bootstrap).

        Only valid across append-only history: if any directory
        referenced at ``since_version`` is gone at ``to_version`` (a
        merge/compact/rollback rewrote rows), the directory delta no
        longer equals the row delta and this RAISES rather than
        returning silently wrong changes — use :meth:`diff` (keyed,
        O(both snapshots)) across rewrites. Appends land at the to-
        version's logical schema (older consumers see new columns as
        the schema-evolution read path defines them).
        """
        to = self.head() if to_version is None else to_version
        if to is None:
            raise FileNotFoundError(f"no versions in {self.root}")
        m_to = self._load_manifest(to)
        if not since_version:
            return self.read(to)
        m_since = self._load_manifest(since_version)
        gone = set(m_since["data_dirs"]) - set(m_to["data_dirs"])
        if gone:
            raise ValueError(
                f"non-append history between v{since_version} and v{to}: "
                f"{sorted(gone)} rewritten (merge/compact/rollback) — "
                "read_changes would be wrong; use diff() instead"
            )
        excl_since = m_since.get("excluded", {})
        excl_to = m_to.get("excluded", {})
        reshaped = [
            d
            for d in m_since["data_dirs"]
            if excl_since.get(d) != excl_to.get(d)
        ]
        if reshaped:
            raise ValueError(
                f"non-append history between v{since_version} and v{to}: "
                f"partitions of {sorted(reshaped)} replaced "
                "(replace_partitions) — read_changes would be wrong; "
                "use diff() instead"
            )
        new_dirs = [
            d for d in m_to["data_dirs"] if d not in set(m_since["data_dirs"])
        ]
        if not new_dirs:
            return self.read(to).limit(0)
        return self._read_dirs(
            new_dirs,
            self.schema(to),
            m_to.get("partitioned", {}),
            m_to.get("renames", []),
            to,
            excl_to,
        )

    def commit_retry(
        self, df: DataFrame, *, attempts: int = 5, **kwargs
    ) -> int:
        """Optimistic-concurrency loop around :meth:`commit`: on
        :class:`CommitConflict` re-read the head and try the next
        version number. ``append`` semantics commute (the snapshot is
        parent ∪ new files regardless of arrival order), so losers
        retry safely; for read-modify-write patterns (merge,
        incremental maintenance) the CALLER must recompute against
        the new head instead — blind retry would resurrect
        overwritten rows, which is why merge has no retry wrapper.
        """
        last: CommitConflict | None = None
        for _ in range(attempts):
            try:
                return self.commit(df, **kwargs)
            except CommitConflict as e:  # lost the race; head moved
                last = e
        raise last

    # ---------------------------------------------------------- constraints

    def check_constraints(
        self,
        df: DataFrame,
        *,
        not_null: tuple[str, ...] = (),
        unique: tuple[str, ...] = (),
        checks: dict[str, str] = {},
    ) -> list[str]:
        """Evaluate table constraints against ``df``; returns violation
        descriptions (empty = clean). All constraints fold into ONE
        aggregate pass: null counts, a distinct-vs-total comparison
        per unique key, and a failing-row count per boolean SQL check
        — no per-constraint scans. Used by :meth:`commit` when
        ``constraints`` is passed; callable standalone for report-only
        validation.
        """
        from pyspark.sql import functions as F

        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in not_null:
            aggs.append(
                F.sum(
                    F.when(F.col(c).isNull(), 1).otherwise(0)
                ).alias(f"__null_{c}")
            )
        for c in unique:
            aggs.append(F.count_distinct(F.col(c)).alias(f"__uniq_{c}"))
        for name, expr in checks.items():
            aggs.append(
                F.sum(
                    F.when(~F.expr(expr), 1).otherwise(0)
                ).alias(f"__chk_{name}")
            )
        row = df.agg(*aggs).collect()[0]
        out = []
        for c in not_null:
            if row[f"__null_{c}"]:
                out.append(f"not_null({c}): {row[f'__null_{c}']} nulls")
        for c in unique:
            if row[f"__uniq_{c}"] != row["__n"]:
                out.append(
                    f"unique({c}): {row['__n'] - row[f'__uniq_{c}']}"
                    " duplicate rows"
                )
        for name, expr in checks.items():
            if row[f"__chk_{name}"]:
                out.append(
                    f"check({name}: {expr}): {row[f'__chk_{name}']}"
                    " failing rows"
                )
        return out

    def commit_checked(
        self,
        df: DataFrame,
        *,
        not_null: tuple[str, ...] = (),
        unique: tuple[str, ...] = (),
        checks: dict[str, str] = {},
        **kwargs,
    ) -> int:
        """:meth:`commit` gated on :meth:`check_constraints`: a batch
        violating any constraint raises ``ConstraintViolation``
        BEFORE any data lands, so the table can never transition into
        a state the constraints forbid — bad batches bounce whole
        (route them through operators/observe.py quarantining
        upstream instead of dropping rows silently here). Note the
        check runs one extra pass over ``df``; persist upstream if
        the plan is expensive.
        """
        bad = self.check_constraints(
            df, not_null=not_null, unique=unique, checks=checks
        )
        if bad:
            raise ConstraintViolation("; ".join(bad))
        return self.commit(df, **kwargs)
