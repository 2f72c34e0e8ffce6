"""Versioned parquet tables with merge/delete (Delta-less MERGE emulation).

The reference mutates Postgres tables in place (MERGE-style upserts,
queries.rs:146-169), an upsert and its derived-table writes in one
transaction. Here each logical table is a directory of immutable
parquet versions `v_<n>` plus a `_current` pointer file naming the
live one (no Delta jars in this image; every caller goes through this
module, so swapping in Delta/Iceberg is one file).

Every write, of one table or several, is one staged commit (`_commit`):
1. stage each table's `v_<n+1>` — leftovers of a failed attempt are
   removed first — with full files, or the touched buckets plus
   hardlinks of the rest, or `_delta` + `_tombstones` + hardlinks of
   every bucket;
2. write each staged dir's `_schema.json` sidecar;
3. flip every table's pointer in one tight loop through
   `_set_current`, the only writer of `_current` (temp file +
   `os.replace`: a reader parses the old or the new number, never a
   truncated file);
4. vacuum versions older than `keep_versions`.
A failure before step 3 leaves every table on its old version. The
flips are per-table renames, so there is NO cross-table atomicity: a
reader between two flips, or a failure inside the loop, sees some
tables on the new version and the rest on the old one (a manifest
naming every table's version would close that). One writer per table.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _filter_keys_not_in(df: DataFrame, kcol, keys) -> DataFrame:
    """`df` minus rows whose key is in `keys`; NULL keys kept (exact
    left_anti parity — NULL never equals any key).

    ONE py4j round-trip regardless of key count: `Column.isin(*keys)`
    creates a py4j Literal PER KEY (~0.5 ms of driver chatter each —
    a 2000-key sync batch × 3 derived tables measured 3.3 s of pure
    py4j inside delta_overwrite_multi, the bulk of the 100k-doc
    incremental-sync wall; SCALE.md round-4 documents the same
    element-wise F.lit cost). Rendering the set into a single parsed
    SQL predicate string (`k IS NULL OR NOT k IN (...)`: the same
    IsNull/Not/In tree) keeps the driver cost O(len) string-build;
    Catalyst converts the parsed In to the same InSet (hash set) past
    10 elements that isin produced, so the executed plan is identical.
    Keys are SQL string literals: `\\` is doubled before `'` is
    ('' escaping), since the parser reads backslash escapes inside
    quotes (`a\\b` would match another key, a trailing `\\` would
    swallow the closing quote). The temp column binds an arbitrary
    key EXPRESSION (the derived tables key on an expression over
    chunk_id, not a named column) and collapses away."""
    from pyspark.sql import functions as F

    quoted = ",".join(
        "'" + str(k).replace("\\", "\\\\").replace("'", "''") + "'"
        for k in keys
    )
    tmp = "__in_set_key"
    return (
        df.withColumn(tmp, kcol)
        .filter(F.expr(f"`{tmp}` IS NULL OR NOT `{tmp}` IN ({quoted})"))
        .drop(tmp)
    )


def _part_files(d: str) -> list[str]:
    """The `part-*.parquet` files of a sidecar dir ([] when absent)."""
    if not os.path.isdir(d):
        return []
    return [
        os.path.join(d, fn) for fn in sorted(os.listdir(d))
        if fn.startswith("part-") and fn.endswith(".parquet")
    ]


def _tomb_keys(files: list[str]) -> set:
    import pyarrow.parquet as pq

    keys: set = set()
    for f in files:
        keys.update(pq.read_table(f, columns=["__key"]).column("__key").to_pylist())
    return keys


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _move_parquet(src: str, dst: str) -> None:
    """Move the parquet files of a temp-write partition dir into `dst`
    (Hadoop's .crc/_SUCCESS siblings stay behind with the temp dir)."""
    os.makedirs(dst, exist_ok=True)
    if not os.path.isdir(src):
        return
    for fn in os.listdir(src):
        if fn.endswith(".parquet"):
            os.rename(os.path.join(src, fn), os.path.join(dst, fn))


def parquet_dir_stats(
    path: str,
    column: str | None = None,
    null_count_col: str | None = None,
) -> dict:
    """Driver-side parquet-footer census of a written dataset dir:
    total rows, optional max(column) and null-count(column) from the
    files' column statistics. ZERO Spark jobs — on the lifecycle hot
    path every count/max aggregation is otherwise a whole local job
    (~0.2 s of pure scheduling), and the writer just produced footers
    that already carry the numbers.

    Walks partition subdirs (names containing '='), skips sidecar
    stores (underscore/dot-prefixed names without '=': `_delta`,
    `_tombstones`, `_stats.json`) — the same hidden-path rule Spark's
    file listing applies. Returns {"rows", "max", "nulls",
    "stats_ok"}; callers must fall back to a Spark aggregation when
    stats_ok is False (a writer that omitted column statistics)."""
    import pyarrow.parquet as pq

    rows = 0
    mx = None
    nulls = 0
    stats_ok = True
    paths: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [
            d for d in dirs
            if "=" in d or not (d.startswith("_") or d.startswith("."))
        ]
        for fn in files:
            if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                continue
            paths.append(os.path.join(root, fn))
    # footer reads are independent I/O — thread-pool them past a few
    # dozen files so a many-file version dir doesn't serialize the
    # driver (VERDICT r9 next #5; the walk itself stays the fallback —
    # the hot upsert path now carries stats arithmetically)
    if len(paths) > 32:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=8) as pool:
            mds = list(pool.map(pq.read_metadata, paths))
    else:
        mds = [pq.read_metadata(p) for p in paths]
    for md in mds:
        rows += md.num_rows
        if column is None and null_count_col is None:
            continue
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                col = rgm.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if column is not None and name == column:
                    if st is None or not st.has_min_max:
                        if rgm.num_rows:
                            stats_ok = False
                    else:
                        v = st.max
                        mx = v if mx is None else max(mx, v)
                if null_count_col is not None and name == null_count_col:
                    if st is None or not st.has_null_count:
                        stats_ok = False
                    else:
                        nulls += st.null_count
    return {"rows": rows, "max": mx, "nulls": nulls, "stats_ok": stats_ok}


class VersionedTable:
    def __init__(self, spark: SparkSession, path: str, schema: str):
        self.spark = spark
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self.path, "_current")

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"v_{v}")

    def _set_current(self, v: int) -> None:
        """The only writer of `_current`: a temp file renamed over the
        pointer, so a concurrent reader never parses a partial one."""
        tmp = f"{self._pointer()}.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(v))
        try:
            os.replace(tmp, self._pointer())
        except BaseException:
            os.remove(tmp)
            raise

    # -- zero-job reads: schema sidecars --------------------------------------
    #
    # `spark.read.parquet(path)` runs a schema-INFERENCE Spark job on
    # every fresh path (~0.1-0.3 s of local scheduling; measured — see
    # OPTIMIZATION_r09.md). The writer knows the exact schema it just
    # wrote, so each version write records it in `_schema.json` and
    # readers pass it explicitly — no inference job, no drift risk
    # (the sidecar IS the written schema, not the declared one).

    def _save_schema(self, vdir: str, schema, delta_schema=None) -> None:
        import json

        payload = {}
        if schema is not None:
            payload["files"] = schema.json()
        if delta_schema is not None:
            payload["delta"] = delta_schema.json()
        try:
            with open(os.path.join(vdir, "_schema.json"), "w") as f:
                json.dump(payload, f)
        except OSError:
            pass  # sidecar is an optimization; readers fall back to inference

    def _load_schema(self, vdir: str, key: str = "files"):
        import json

        from pyspark.sql import types as T

        try:
            with open(os.path.join(vdir, "_schema.json")) as f:
                payload = json.load(f)
            if key not in payload:
                return None
            return T.StructType.fromJson(json.loads(payload[key]))
        except (OSError, ValueError, KeyError):
            return None

    def _read_version_dir(self, vdir: str):
        """Parquet read of a version dir with the recorded write-time
        schema when available (zero-job), inference otherwise. Inferred
        columns are projected to the table's declared ones: the files
        of a multi-table write carry every sibling's columns."""
        sch = self._load_schema(vdir)
        if sch is not None:
            return self.spark.read.schema(sch).parquet(vdir)
        df = self.spark.read.parquet(vdir)
        own = set(self.spark.createDataFrame([], self.schema).columns)
        return df.select(*[c for c in df.columns if c in own or c == "__bucket"])

    def _current_version(self) -> int:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def exists(self) -> bool:
        return self._current_version() > 0

    def read(self) -> DataFrame:
        v = self._current_version()
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        return self._read_version_dir(os.path.join(self.path, f"v_{v}"))

    def versions(self) -> list[int]:
        """Version numbers still on disk (ascending)."""
        out = []
        for name in os.listdir(self.path):
            if name.startswith("v_"):
                try:
                    out.append(int(name[2:]))
                except ValueError:
                    pass
        return sorted(out)

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read of a specific retained version (the Delta
        `VERSION AS OF` analog — each version dir is a full snapshot,
        hardlink-shared with its neighbors in the bucketed subclass, so
        retention costs only the delta). Raises if vacuumed away."""
        if version not in self.versions():
            raise ValueError(
                f"version {version} not retained (have {self.versions()}; "
                f"raise keep_versions on writes to retain more)"
            )
        df = self._read_version_dir(os.path.join(self.path, f"v_{version}"))
        return df.drop("__bucket") if "__bucket" in df.columns else df

    def overwrite(self, df: DataFrame, keep_versions: int = 2) -> None:
        def stage(outs, _tmp):
            df.write.mode("overwrite").parquet(outs[0])
            return [(df.schema, None)]

        _commit([self], stage, keep_versions)

    def vacuum(self, keep_versions: int = 2) -> None:
        """Drop versions older than the newest `keep_versions` (storage
        hygiene — at 100 TB stale versions are real money; keeping one
        prior version preserves reader-in-flight safety for this
        single-writer design)."""
        cur = self._current_version()
        for name in os.listdir(self.path):
            if name.startswith("v_"):
                try:
                    ver = int(name[2:])
                except ValueError:
                    continue
                if ver <= cur - keep_versions:
                    shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)

    def append(self, df: DataFrame) -> None:
        cur = self.read()
        self.overwrite(cur.unionByName(df, allowMissingColumns=True))

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def _commit(tables: list, stage, keep_versions: int) -> list[int]:
    """The one write protocol of the store (module docstring). Clears
    leftovers above each table's current version, calls
    `stage(outs, tmp)` to fill the new version dirs (`tmp`: a
    dot-prefixed scratch dir beside the first table, removed whatever
    happens; a failed stage also removes the new version dirs) and
    take back one (files schema, delta schema) pair per table, then
    writes the sidecars, flips every pointer and vacuums.
    Returns the new version numbers."""
    vers = []
    for tbl in tables:
        cur = tbl._current_version()
        for v in tbl.versions():
            if v > cur:
                shutil.rmtree(tbl._vdir(v))
        vers.append(cur + 1)
    outs = [tbl._vdir(v) for tbl, v in zip(tables, vers)]
    tmp = os.path.join(
        os.path.dirname(tables[0].path.rstrip("/")),
        f".multi_{uuid.uuid4().hex[:8]}",
    )
    try:
        schemas = stage(outs, tmp)
    except BaseException:
        for out in outs:
            shutil.rmtree(out, ignore_errors=True)
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for tbl, out, (files, delta) in zip(tables, outs, schemas):
        tbl._save_schema(out, files, delta_schema=delta)
    for tbl, v in zip(tables, vers):
        tbl._set_current(v)
    for tbl in tables:
        tbl.vacuum(keep_versions)
    return vers


class BucketedVersionedTable(VersionedTable):
    """VersionedTable partitioned by a hash bucket of a key column, with
    partition-granular copy-on-write: a new version physically rewrites
    only the buckets an upsert touches and references every other
    bucket's files from the previous version via hardlink (the same
    unchanged-file reuse a Delta/Iceberg snapshot gets from its log).
    At 100 TB this is the difference between O(batch) and O(table) per
    upsert; swapping the backend for real Delta MERGE stays one file.
    """

    def __init__(self, spark: SparkSession, path: str, schema: str,
                 key: str = "source_uuid", n_buckets: int = 32):
        super().__init__(spark, path, schema)
        self.key = key
        self.n_buckets = n_buckets

    def _key_col(self):
        """Bucket-key column: `key` is a column name, or a callable
        returning a Column for DERIVED keys (the pipeline's
        embeddings/tsvectors tables bucket by the document id encoded
        in chunk_id, so all derived tables share the chunks table's
        bucket assignment). The expression must cast to string before
        hashing so derived and direct keys bucket identically."""
        from pyspark.sql import functions as F

        if callable(self.key):
            return self.key()
        return F.col(self.key).cast("string")

    def _bucketed(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        if "__bucket" in df.columns:
            return df
        return df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(self._key_col()), F.lit(self.n_buckets)).cast("int"),
        )

    def _clustered(self, df: DataFrame) -> DataFrame:
        """Cluster rows by bucket before a partitionBy write: without
        this every shuffle partition writes a sliver into every bucket
        dir (N_partitions × N_buckets tiny files + that many commit
        round-trips — measured 1081 files / 8.8 s for a 5k-doc upsert);
        with it each bucket is one file (32 files / sub-second). At
        cluster scale cap file size with maxRecordsPerFile rather than
        adding partitions."""
        from pyspark.sql import functions as F

        b = self._bucketed(df)
        return b.repartition(self.n_buckets, F.col("__bucket"))

    def bucket_of(self, col):
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64(col.cast("string")), F.lit(self.n_buckets)).cast("int")

    def has_bucketed_current(self) -> bool:
        """True when the current version was written with __bucket
        partitioning — the precondition for partial_overwrite (a flat
        legacy version has no bucket dirs to hardlink, so callers must
        fall back to a full overwrite once to migrate the layout)."""
        v = self._current_version()
        if v == 0:
            return False
        vdir = os.path.join(self.path, f"v_{v}")
        try:
            return any(n.startswith("__bucket=") for n in os.listdir(vdir))
        except FileNotFoundError:
            return False

    # -- delta versions (O(changed) incremental writes) ----------------------
    #
    # A delta version carries the previous version's bucket files via
    # hardlink plus two underscore-hidden (invisible to Spark's file
    # listing) small datasets: `_delta` (all live rows whose bucket key
    # was changed since the last full write, COMPACTED each time) and
    # `_tombstones` (the accumulated changed/deleted string keys).
    # Logical content = base minus tombstoned keys, union delta — the
    # deletion-vector pattern Delta Lake formalizes, so a 1%-changed
    # sync writes O(changed) bytes instead of rewriting every touched
    # bucket (with uniformly hashed keys, 1% of docs touches ~every
    # bucket). `_stats.json` records base/tombstone row counts so the
    # caller can trigger compaction (a plain overwrite) before the
    # read-side anti-join grows past its budget.

    def _extra(self, vdir: str, name: str):
        """A version's `_delta`/`_tombstones` sidecar, or None. Read by
        a `part-*.parquet` glob (naming the underscore dir itself makes
        Spark log `All paths were ignored` on every read) with the
        known write-time schema — no per-read inference job: tombstones
        are always a 1-column string file, the delta schema is recorded
        at write. An empty sidecar dir reads as an empty frame."""
        p = os.path.join(vdir, name)
        if not os.path.isdir(p):
            return None
        files = os.path.join(p, "part-*.parquet")
        sch = ("__key string" if name == "_tombstones"
               else self._load_schema(vdir, key="delta"))
        if not _part_files(p):
            return None if sch is None else self.spark.createDataFrame([], sch)
        r = self.spark.read
        return (r if sch is None else r.schema(sch)).parquet(files)

    def stats(self) -> dict:
        import json

        v = self._current_version()
        try:
            with open(os.path.join(self._vdir(v), "_stats.json")) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def write_stats(self, **kw) -> None:
        import json

        v = self._current_version()
        if v == 0:
            return
        with open(os.path.join(self._vdir(v), "_stats.json"), "w") as f:
            json.dump(kw, f)

    # literal-tombstone cutover: below this many keys the read-side
    # anti-join becomes a codegen NOT-IN filter (no broadcast-exchange
    # job per read); above it, the broadcast anti-join amortizes
    _TOMB_LITERAL_MAX = 2048

    def _tomb_filter(self, out: DataFrame, vdir: str):
        """Anti-filter `out` by this version's tombstone keys.

        Tombstones are driver-written (delta_overwrite_multi's pyarrow
        path) and bounded by the compaction threshold, so for small
        sets the keys are read back driver-side and applied as a
        literal `isNull() | ~isin(keys)` predicate — pure codegen, zero
        broadcast jobs; the anti-join launched a broadcast-exchange
        job on EVERY read of a delta version (guide §2.4). NULL keys
        are retained, matching left_anti's NULL semantics. Falls back
        to the broadcast anti-join for big tombstone sets or
        stats-free files."""
        from pyspark.sql import functions as F

        files = _part_files(os.path.join(vdir, "_tombstones"))
        if not files:
            return out
        keys = None
        try:
            import pyarrow.parquet as pq

            if sum(
                pq.read_metadata(f).num_rows for f in files
            ) <= self._TOMB_LITERAL_MAX:
                keys = _tomb_keys(files)
        except Exception:
            keys = None
        if keys is not None:
            # NULL tombstone keys are a no-op under left_anti (NULL
            # never equals any key) — drop them rather than crash
            # sorted() with a None (VERDICT r9 next #7)
            keys.discard(None)
            if not keys:
                return out
            return _filter_keys_not_in(out, self._key_col(), sorted(keys))
        tomb = self._extra(vdir, "_tombstones")
        return out.join(tomb, self._key_col() == F.col("__key"), "left_anti")

    def _apply_delta(self, base: DataFrame, vdir: str) -> DataFrame:
        delta = self._extra(vdir, "_delta")
        out = self._tomb_filter(base, vdir)
        if delta is not None:
            out = out.unionByName(delta.select(*out.columns))
        return out

    def read(self) -> DataFrame:
        v = self._current_version()
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        vdir = self._vdir(v)
        df = self._apply_delta(self._read_version_dir(vdir), vdir)
        return df.drop("__bucket") if "__bucket" in df.columns else df

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read that is delta-aware (ADVICE r7): a plain
        parquet scan of a delta version sees only the hardlinked
        bucket files (underscore-prefixed `_delta`/`_tombstones` are
        invisible to Spark's listing), so delta rows would be missing
        and tombstoned rows would resurface. Apply the version's own
        delta/tombstones, exactly like read()."""
        if version not in self.versions():
            raise ValueError(
                f"version {version} not retained (have {self.versions()}; "
                f"raise keep_versions on writes to retain more)"
            )
        vdir = self._vdir(version)
        df = self._apply_delta(self._read_version_dir(vdir), vdir)
        return df.drop("__bucket") if "__bucket" in df.columns else df

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        """Scan only the requested buckets — partition pruning at file
        listing (PartitionFilters), so an upsert reads O(touched).
        Delta/tombstones apply bucket-filtered (the delta carries
        __bucket for exactly this)."""
        v = self._current_version()
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        from pyspark.sql import functions as F

        vdir = self._vdir(v)
        bl = [int(b) for b in buckets]
        df = self._read_version_dir(vdir).filter(F.col("__bucket").isin(bl))
        df = self._tomb_filter(df, vdir)
        delta = self._extra(vdir, "_delta")
        if delta is not None:
            df = df.unionByName(
                delta.filter(F.col("__bucket").isin(bl)).select(*df.columns)
            )
        return df.drop("__bucket")

    def _link_buckets(self, prev: str, out: str, skip: set | None = None):
        for name in os.listdir(prev):
            if not name.startswith("__bucket="):
                continue
            if skip and int(name.split("=", 1)[1]) in skip:
                continue
            src, dst = os.path.join(prev, name), os.path.join(out, name)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                if fn.endswith(".parquet"):
                    _link_or_copy(os.path.join(src, fn), os.path.join(dst, fn))

    def overwrite(self, df: DataFrame, keep_versions: int = 2) -> None:
        overwrite_multi([(self, df)], keep_versions=keep_versions)

    def partial_overwrite(self, touched_df: DataFrame, touched: list[int],
                          keep_versions: int = 2) -> None:
        """New version = touched buckets from touched_df + every other
        bucket hardlinked from the current version (copy fallback).
        Not composable with delta versions (a bucket rewrite can't see
        which delta rows belong to it) — a table is maintained through
        EITHER partial_overwrite (documents) or delta_overwrite
        (pipeline derived tables), never both."""
        cur = self._current_version()
        if cur and os.path.isdir(os.path.join(self._vdir(cur), "_delta")):
            raise ValueError(
                "partial_overwrite on a delta version would drop the "
                "delta; compact first (overwrite(self.read()))"
            )
        overwrite_multi([(self, touched_df, touched)],
                        keep_versions=keep_versions)

    def delta_overwrite(self, new_rows: DataFrame, replaced_keys,
                        keep_versions: int = 2) -> str:
        """New version = every base bucket hardlinked + compacted delta
        + accumulated tombstones (see delta_overwrite_multi)."""
        return delta_overwrite_multi([(self, new_rows)], replaced_keys,
                                     keep_versions=keep_versions)


def overwrite_multi(
    entries: list[tuple],
    keep_versions: int = 2,
) -> None:
    """Overwrite one or more BucketedVersionedTables in ONE Spark job
    and one staged commit (module docstring). An entry is
    `(table, frame)`, the table's whole new content, or
    `(table, frame, touched)`: the frame replaces only the `touched`
    buckets and every other bucket of the current version is
    hardlinked into the new one (partition-granular copy-on-write).

    The frames union under a __table discriminator, one
    partitionBy(__table, __bucket) write lands every table's files in
    the commit's scratch dir, and staging MOVES each
    `__table=i/__bucket=k` file set into table i's new version dir, so
    the on-disk layout readers see is exactly a one-table write's. One
    job writes every table's files or none, so a failed job leaves
    every table on its old version; the pointer flips that follow are
    per table (not atomic across tables). Files carry the UNION schema
    (absent sibling columns all-NULL — parquet nulls are ~free); each
    table's `_schema.json` records its own subset, which Spark's
    reader projects without touching sibling columns."""
    from pyspark.sql import functions as F

    tagged = None
    schemas = []
    for i, (tbl, df, *_) in enumerate(entries):
        # PER-TABLE clustering (same _clustered repartition a one-table
        # write uses), THEN the narrow union: a union-level
        # repartition(nb, __bucket) reduced the whole 3-table write to
        # nb tasks — parquet encoding for every table serialized into
        # a third of r9's aggregate width (full_resync measured 16%
        # slower). With per-branch clustering the single job runs all
        # 3×nb write tasks at once and each task holds exactly one
        # (table, bucket) — one file per bucket dir, the same layout
        # and shuffle bytes as three solo writes.
        b = tbl._clustered(df)
        schemas.append((b.schema, None))
        t = b.withColumn("__table", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(
            t, allowMissingColumns=True
        )

    def stage(outs, tmp):
        tagged.write.mode("overwrite").partitionBy(
            "__table", "__bucket"
        ).parquet(tmp)
        for i, (tbl, _, *touched) in enumerate(entries):
            src = os.path.join(tmp, f"__table={i}")
            os.makedirs(outs[i], exist_ok=True)
            if os.path.isdir(src):
                for bd in os.listdir(src):
                    if bd.startswith("__bucket="):
                        _move_parquet(os.path.join(src, bd),
                                      os.path.join(outs[i], bd))
            cur = tbl._current_version()
            if touched and cur:
                tbl._link_buckets(tbl._vdir(cur), outs[i],
                                  skip={int(b) for b in touched[0]})
        return schemas

    _commit([e[0] for e in entries], stage, keep_versions)


def delta_overwrite_multi(
    entries: list[tuple["BucketedVersionedTable", DataFrame]],
    replaced_keys,
    keep_versions: int = 2,
) -> str:
    """Delta-write one or more BucketedVersionedTables in ONE Spark job
    and one staged commit (module docstring). `replaced_keys` is a
    driver-side collection of key values whose base rows are dead
    (their replacement rows, if any, are in the entries' frames).

    Each table's new version = every base bucket hardlinked + its
    compacted `_delta` (surviving old delta ∪ new rows) + the
    accumulated `_tombstones`. The per-table delta frames union under a
    __table discriminator and one write lands them all; staging moves
    each table's files into its `_delta`. Each table's tombstones are
    this batch plus ITS OWN previous set — a sibling whose history
    diverged (a solo write, a failed flip) neither gets a replaced row
    back nor loses a live one — written via pyarrow (zero jobs, exact
    count); a set equal to one already written, the usual case for a
    field's derived tables, is hardlinked instead. Returns the first
    table's `_tombstones` dir."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    if isinstance(replaced_keys, DataFrame):
        raise TypeError("replaced_keys must be a driver-side key collection")
    tables = [tbl for tbl, _ in entries]
    spark = tables[0].spark
    # a None key is a left_anti no-op — drop it rather than tombstone
    # the string 'None' (VERDICT r9 next #7)
    batch = sorted({str(k) for k in replaced_keys if k is not None})
    prevs, schemas, tagged = [], [], None
    for i, (tbl, new_rows) in enumerate(entries):
        cur = tbl._current_version()
        if cur == 0:
            raise ValueError("delta_overwrite needs an existing version")
        prev = tbl._vdir(cur)
        delta = tbl._bucketed(new_rows)
        old_delta = tbl._extra(prev, "_delta")
        # compaction against the BATCH keys only — anti-joining against
        # the accumulated set would drop earlier syncs' still-live delta
        # rows (their keys are tombstoned for the BASE, not the delta);
        # a literal NOT-isin below the read-side cutover, so no
        # broadcast-exchange job per delta write (guide §2.4)
        if old_delta is not None and batch and (
            len(batch) <= tbl._TOMB_LITERAL_MAX
        ):
            old_delta = _filter_keys_not_in(old_delta, tbl._key_col(), batch)
        elif old_delta is not None and batch:
            keys = spark.createDataFrame([(k,) for k in batch], "__key string")
            old_delta = old_delta.join(
                keys, tbl._key_col() == F.col("__key"), "left_anti"
            )
        if old_delta is not None:
            delta = old_delta.unionByName(delta.select(*old_delta.columns))
        prevs.append(prev)
        # version files are the prev version's (hardlinked) — carry its
        # recorded schema; record this delta's own schema alongside
        schemas.append((tbl._load_schema(prev), delta.schema))
        # PER-BRANCH coalesce(4), before the union: a union-level
        # coalesce(4) collapsed the WHOLE upstream (persisted-chunk
        # scan, embed UDF, every table's surviving-delta read) into 4
        # tasks — measured 25% slower than r9's 3 thread-pooled
        # per-table writes at the 100k-doc/1% sync; a union-level
        # round-robin repartition recovered only half (it shuffles the
        # 1024-dim embedding rows). Union is NARROW, so per-branch
        # coalesce keeps each table's write width at exactly r9's
        # per-job width (4), the single job runs all 3×4 tasks
        # at once, every task holds one table's rows (same per-table
        # file count as before), and there is no shuffle
        # (OPTIMIZATION_r10.md multi-write).
        t = delta.coalesce(4).withColumn("__table", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(
            t, allowMissingColumns=True
        )

    def stage(outs, tmp):
        tagged.write.mode("overwrite").partitionBy("__table").parquet(tmp)
        written: dict[frozenset, str] = {}
        for i, (tbl, out, prev) in enumerate(zip(tables, outs, prevs)):
            _move_parquet(os.path.join(tmp, f"__table={i}"),
                          os.path.join(out, "_delta"))
            keys = frozenset(batch) | _tomb_keys(
                _part_files(os.path.join(prev, "_tombstones")))
            keys -= {None}
            tomb = os.path.join(out, "_tombstones", "part-00000.parquet")
            os.makedirs(os.path.dirname(tomb))
            if keys in written:
                _link_or_copy(written[keys], tomb)
            else:
                pq.write_table(
                    pa.table({"__key": pa.array(sorted(keys), pa.string())}),
                    tomb,
                )
                written[keys] = tomb
            tbl._link_buckets(prev, out)
            st = tbl.stats()  # still the previous version's
            st["tomb_rows"] = len(keys)
            with open(os.path.join(out, "_stats.json"), "w") as f:
                json.dump(st, f)
        return schemas

    vers = _commit(tables, stage, keep_versions)
    return os.path.join(tables[0]._vdir(vers[0]), "_tombstones")


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 4_000_000,
) -> int:
    """Compact an append-only parquet directory (e.g. the streaming
    fingerprint index, which gains one small file per micro-batch) into
    ceil(rows / target_rows_per_file) files. Returns the new file count.

    PARTITION- and SIDECAR-AWARE: a ``key=value``-partitioned store
    (the text/sparse/IVF indexes) compacts each partition directory in
    place — the layout that queries prune on survives — and top-level
    non-parquet sidecars (_stats.json, epoch fences) always carry
    over. A flat dir rewrites to a DOT-PREFIXED sibling temp dir and
    swaps in via two renames. The in-flight dirs are invisible to
    Spark's listing (hidden-path filter), so a concurrent reader of a
    partitioned store can never discover them as phantom partition
    values — it sees each partition's complete old or complete new
    file set, never a mix or a duplicate (pinned by
    tests/test_collections.py::test_compact_partitioned_no_phantoms).
    Between the two renames of one partition a reader may TRANSIENTLY
    miss that partition (POSIX rename can't exchange two dirs
    atomically) — a visible gap, not silent duplication. Not safe
    concurrently with a WRITER (run between micro-batches or from the
    maintenance job that also calls vacuum); at cluster scale the same
    job would be a Delta OPTIMIZE.
    """
    import math
    import shutil

    part_dirs = [
        e
        for e in sorted(os.listdir(path))
        if "=" in e and os.path.isdir(os.path.join(path, e))
    ]
    if part_dirs:
        total = 0
        for d in part_dirs:
            total += compact_parquet_dir(
                spark, os.path.join(path, d), target_rows_per_file
            )
        return total

    df = spark.read.parquet(path)
    rows = df.count()
    n_files = max(1, math.ceil(rows / target_rows_per_file))
    # Dot-prefixed siblings: Spark's hidden-path filter skips any
    # listing entry starting with '.'/'_', so a concurrent reader of a
    # PARTITIONED store never discovers the in-flight dirs as phantom
    # `key=value...` partition values during the swap window (a
    # `key=value.compact_tmp` sibling WOULD be picked up — the '='
    # makes it parse as a partition; ADVICE r2 #1).
    parent, leaf = os.path.split(path.rstrip("/"))
    tmp = os.path.join(parent, f".compact_tmp.{leaf}")
    old = os.path.join(parent, f".compact_old.{leaf}")
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    # sidecars (stats, fences) are part of the store, not of any one
    # parquet file set — they must survive the rewrite
    for fn in os.listdir(path):
        fp = os.path.join(path, fn)
        if os.path.isfile(fp) and not fn.endswith(".parquet") and not fn.startswith(("_SUCCESS", ".")):
            shutil.copy2(fp, os.path.join(tmp, fn))
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def merge_into(
    table: BucketedVersionedTable,
    source: DataFrame,
    key: str,
    when_matched: str = "replace",
    keep_versions: int = 2,
) -> list[int]:
    """Delta-MERGE-shaped upsert on a bucketed store: rows whose key
    matches are replaced by (or kept against, ``when_matched='ignore'``)
    the source row; unmatched source rows insert. Returns the touched
    bucket ids.

    Scale contract: the source's keys hash to a set of buckets; ONLY
    those buckets are read (pruned scan) and rewritten — O(batch), not
    O(table) — and every other bucket's files carry into the new
    version as hardlinks. The combine itself is one anti-join + union
    co-partitioned on the key. This is the general form of the
    collection upsert's tail (collection.rs:538-640's ON CONFLICT),
    exposed for any keyed table.
    """
    if when_matched not in ("replace", "ignore"):
        raise ValueError(f"when_matched must be replace|ignore, got {when_matched!r}")
    # Persist the (deduped, bucketed) source ONCE: the touched-bucket
    # listing is an action, and without the persist the entire source
    # lineage (often a scan+aggregate) re-executes inside the merge
    # write — measured 2x the refresh cost on q99's rollup source.
    # O(batch) executor memory/disk, never O(table).
    srcb = table._bucketed(source.dropDuplicates([key])).persist()
    try:
        touched = [
            int(r["__bucket"])
            for r in srcb.select("__bucket").distinct().collect()
        ]
        src = srcb.drop("__bucket")
        cur = table.read_buckets(touched)
        if when_matched == "replace":
            kept_cur = cur.join(src.select(key), key, "left_anti")
            merged = kept_cur.unionByName(src)
        else:
            new_src = src.join(cur.select(key), key, "left_anti")
            merged = cur.unionByName(new_src)
        table.partial_overwrite(merged, touched, keep_versions=keep_versions)
    finally:
        srcb.unpersist()
    return sorted(touched)


def table_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Reconcile two table snapshots (e.g. two retained versions via
    `read_version`): one row per changed key with change ∈
    {added, removed, changed}. Unchanged keys are filtered INSIDE the
    join output before anything else materializes, so the result is
    O(delta) even when both snapshots are 100 TB — and the full-outer
    join co-partitions both sides on the key (one shuffle each).

    Row identity = md5 of the concatenated compare columns (default:
    every non-key column present on both sides, sorted by name).
    """
    from pyspark.sql import functions as F

    if compare_cols is None:
        compare_cols = sorted(
            (set(old_df.columns) & set(new_df.columns)) - {key}
        )

    def fp(df):
        return df.select(
            F.col(key),
            F.md5(
                F.concat_ws(
                    "\x1f", *[F.col(c).cast("string") for c in compare_cols]
                )
            ).alias("__fp"),
        )

    o, n = fp(old_df).alias("o"), fp(new_df).alias("n")
    j = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    return j.select(
        F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
        F.when(F.col(f"o.{key}").isNull(), "added")
        .when(F.col(f"n.{key}").isNull(), "removed")
        .when(F.col("o.__fp") != F.col("n.__fp"), "changed")
        .alias("change"),
    ).filter(F.col("change").isNotNull())
