"""Datastore: versioned dump storage with a JSON manifest.

Reference: the `Datastore` trait + index file
(/root/reference/replibyte/src/datastore/mod.rs:120-176 — `IndexFile {v,
dumps}`, `Dump {directory_name, size, created_at, compressed, encrypted}`),
local-disk/S3 backends (local_disk.rs, s3.rs), retention
(mod.rs:41-117), and manifest migrations (migration/mod.rs:48-106).

Spark-first restatement:

- A *dump* is a directory of per-table Parquet datasets (the reference's
  100 MB zlib/AES chunks become Parquet part-files with native codecs —
  tasks/full_dump.rs:72-113 collapses into `df.write`).
- Compression is the Parquet codec (zstd default — stronger than the
  reference's zlib-6 and splittable for parallel reads).
- Optional column-level AES-GCM via Spark's `aes_encrypt` with a RANDOM IV
  per value — deliberately not replicating the reference's static-nonce
  weakness (datastore/mod.rs:208: `b"unique nonce"`).
- The manifest is `metadata.json` with the same dump-listing semantics
  (latest / by-name / delete / keep-last / older-than) plus versioned
  migrations (a v1 manifest with `backups` is upgraded to v2 `dumps`,
  mirroring migration/rename_backups_to_dumps.rs).

ALL paths — the per-table Parquet data AND the JSON manifest — go through
the Hadoop FileSystem resolved from the root's scheme, so `file:///`,
`hdfs://`, `s3a://`, `gs://` are one code path (the reference's local/S3/GCS
switch, datastore/local_disk.rs + s3.rs:213-353).  A bare path resolves via
the cluster's default FS (local FS in local mode, HDFS on a cluster).
Object-store jars (hadoop-aws, gcs-connector) are not in this container, so
the cloud schemes are exercised through the same FS-API path with a
`file://` scheme in tests.
"""

from __future__ import annotations

import json
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_VERSION = 2
MANIFEST_NAME = "metadata.json"


@dataclass
class DumpInfo:
    directory_name: str
    size: int
    created_at: float
    compressed: bool
    encrypted: bool
    tables: list[str] = field(default_factory=list)
    # table -> {column -> original Spark type simpleString}; lets restore()
    # give encrypted columns their pre-encryption type back.
    encrypted_column_types: dict = field(default_factory=dict)
    # incremental-dump chain: name of the dump this one is a delta over, and
    # table -> (watermark_col, max_value_as_string) high-water marks
    parent: str | None = None
    watermarks: dict = field(default_factory=dict)
    # tables this dump contains IN FULL (for an incremental: tables that
    # were re-dumped whole because no base watermark existed).  restore()
    # must NOT union the parent chain's copy of these — that duplicates
    # every row.  Empty on manifests written before round 5 (legacy
    # incremental chains keep the old union behavior).
    full_tables: list = field(default_factory=list)


def for_each_table(spark: SparkSession, tables: dict[str, DataFrame],
                   write: Callable[[str, DataFrame], None]) -> None:
    """Call ``write(table, df)`` for every table, concurrently, from a pool
    of ``min(len(tables), defaultParallelism)`` threads; re-raise the first
    failure in table order once every write has ended.

    Each call gets its own ``inheritable_thread_target`` wrap, which clones
    the caller's Spark local properties: one wrap shared by all calls
    hands every thread the same Properties object, and a bare pool thread
    gets none (its jobs lose the caller's job group).
    """
    if not tables:
        return

    def inheriting(fn):
        wrap = inheritable_thread_target(spark)
        # pinned-thread mode off (PYSPARK_PIN_THREAD=false): pyspark hands
        # the session back unwrapped, and threads have no own properties
        return fn if wrap is spark else wrap(fn)

    workers = min(len(tables), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheriting(write), t, df)
                   for t, df in tables.items()]
        for f in futures:
            f.result()


class Datastore:
    """Scheme-agnostic datastore (manifest + data via Hadoop FS; Spark does
    the heavy data IO)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- Hadoop FS plumbing (driver-side, tiny files only) -----------------

    def _jpath(self, path: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        return self._jpath(path).getFileSystem(hconf)

    def _join(self, *parts: str) -> str:
        return "/".join([self.root, *parts])

    def _read_bytes(self, path: str) -> bytes:
        fs, p = self._fs(path), self._jpath(path)
        stream = fs.open(p)
        try:
            return bytes(self.spark._jvm.org.apache.commons.io.IOUtils
                         .toByteArray(stream))
        finally:
            stream.close()

    def _write_bytes(self, path: str, payload: bytes) -> None:
        """Write via temp file + rename, keeping the old file as `.bak`
        until the new one is in place — there is never a moment with NO
        manifest on disk, and every rename's boolean result is checked
        (Hadoop FS rename signals failure by returning false, not raising)."""
        fs = self._fs(path)
        tmp, final = self._jpath(path + ".tmp"), self._jpath(path)
        bak = self._jpath(path + ".bak")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        had_old = fs.exists(final)
        if had_old:
            if fs.exists(bak):
                fs.delete(bak, False)
            if not fs.rename(final, bak):
                raise IOError(f"rename {final} -> {bak} failed")
        if not fs.rename(tmp, final):
            if had_old:
                fs.rename(bak, final)  # roll back: old manifest restored
            raise IOError(f"rename {tmp} -> {final} failed")
        # unconditional: a .bak left by a CRASHED earlier swap (no old
        # final this time) must not outlive a successful write — a stale
        # .bak is exactly what the missing-final fallback would wrongly
        # serve after a later manifest loss
        fs.delete(bak, False)

    def _dir_size(self, path: str) -> int:
        return int(self._fs(path).getContentSummary(self._jpath(path))
                   .getLength())

    # -- manifest ----------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return self._join(MANIFEST_NAME)

    def init(self) -> None:
        """Create the manifest if absent; run migrations if outdated
        (reference: datastore.init() + migrate(), main.rs:140-141)."""
        fs = self._fs(self.root)
        fs.mkdirs(self._jpath(self.root))
        if not fs.exists(self._jpath(self._manifest_path)):
            # fresh store ONLY if no .bak either: a missing final WITH a
            # .bak is the mid-swap rename window (or a crashed swap) — an
            # empty-manifest rewrite here would clobber the real state the
            # _read_manifest fallback exists to serve
            if fs.exists(self._jpath(self._manifest_path + ".bak")):
                # crashed swap: force the recovered (.bak-served) manifest
                # back onto the FINAL path even when no migration applies —
                # _migrate()'s changed-only write would otherwise leave
                # every later read serving (and warning about) .bak, and a
                # later loss of the .bak would lose the manifest entirely
                self._migrate(force_write=True)
            else:
                self._write_manifest({"v": MANIFEST_VERSION, "dumps": []})
        else:
            self._migrate()

    def _read_manifest(self) -> dict:
        try:
            return json.loads(self._read_bytes(self._manifest_path))
        except Exception as first:
            # _write_bytes has an unavoidable instant between
            # rename(final→bak) and rename(tmp→final) with no final file.
            # Retry the FINAL path once first (by then the swap has almost
            # always completed), and only fall back to .bak when the final
            # file is genuinely ABSENT — i.e. we really are in the rename
            # window.  A manifest that exists but fails to parse, or a
            # manifest lost for any other reason (failed rollback, manual
            # deletion), must surface the original error: silently serving
            # .bak there resurrects deleted dumps / hides corruption.
            try:
                return json.loads(self._read_bytes(self._manifest_path))
            except Exception:
                pass
            if self._fs(self._manifest_path).exists(
                    self._jpath(self._manifest_path)):
                raise first                # present but unreadable: corrupt
            try:
                m = json.loads(
                    self._read_bytes(self._manifest_path + ".bak"))
            except Exception:
                raise first
            import warnings
            warnings.warn(
                f"datastore manifest {self._manifest_path} missing; "
                f"served from .bak (mid-swap rename window)")
            return m

    def _write_manifest(self, m: dict) -> None:
        payload = json.dumps(m, indent=2, sort_keys=True).encode()
        self._write_bytes(self._manifest_path, payload)

    def _migrate(self, force_write: bool = False) -> None:
        """Versioned manifest migrations (reference: migration/mod.rs:48-106;
        rename_backups_to_dumps.rs; update_version_number.rs).  Writes ONLY
        when something actually migrates — init() runs on every read-side
        call (list/find/restore), and an unconditional rewrite would make
        pure reads race each other's 3-rename manifest swaps.
        `force_write=True` (the crashed-swap recovery in init()) persists
        the manifest even when nothing migrated."""
        m = self._read_manifest()
        changed = False
        if "backups" in m and "dumps" not in m:  # v1 → v2
            m["dumps"] = m.pop("backups")
            changed = True
        if m.get("v") != MANIFEST_VERSION:
            m["v"] = MANIFEST_VERSION
            changed = True
        if changed or force_write:
            self._write_manifest(m)

    # -- dump (write) ------------------------------------------------------

    def dump(
        self,
        tables: dict[str, DataFrame],
        name: str | None = None,
        *,
        compression: str = "zstd",
        encrypt_columns: dict[str, list[str]] | None = None,
        encryption_key: str | None = None,
        max_records_per_file: int = 1_000_000,
        partition_by: dict[str, list[str]] | None = None,
        watermark_cols: dict[str, str] | None = None,
        _parent: str | None = None,
        _full_tables: list[str] | None = None,
    ) -> DumpInfo:
        """Write one dump: per-table Parquet + manifest entry.

        The table writes run concurrently, from a pool of
        ``min(len(tables), defaultParallelism)`` threads
        (:func:`for_each_table`), so Spark fills the cores that one small
        table's write leaves idle.  Each write carries its own copy of the
        caller's Spark local properties (job group, description): the
        write's SQL execution id is one of them, and writes sharing one
        copy overwrite each other's id.

        An unnamed dump gets ``dump-<epoch ms>-<8 hex chars>``, so dumps
        started in the same second no longer overwrite each other.

        `encrypt_columns` maps table → string columns to AES-GCM-encrypt
        (stored as base64; random IV per value via Spark's aes_encrypt).
        `partition_by` maps table → hive-partition columns: at 100 TB the
        restore/query side then prunes partitions instead of scanning the
        whole dump (the scale analogue of the reference's per-table chunk
        files).
        `watermark_cols` maps table → a monotonically-increasing column;
        the manifest records each table's max value so later
        :meth:`dump_incremental` calls write only newer rows.
        """
        self.init()
        name = name or (f"dump-{time.time_ns() // 1_000_000}-"
                        f"{uuid.uuid4().hex[:8]}")
        dump_dir = self._join(name)
        key = _normalize_key(encryption_key) if encryption_key else None
        if not key and set(encrypt_columns or ()) & set(tables):
            raise ValueError("encrypt_columns given without encryption_key")
        # read on the caller's thread: the writes below run concurrently
        enc_types = {t: {c: tables[t].schema[c].dataType.simpleString()
                         for c in cols}
                     for t, cols in (encrypt_columns or {}).items()
                     if t in tables and cols}

        def write_one(t: str, df: DataFrame) -> None:
            if encrypt_columns and t in encrypt_columns:
                for c in encrypt_columns[t]:
                    # Column-arg form (not f-string SQL): keys with quotes are
                    # safe, and the key never rides inside a SQL text fragment.
                    df = df.withColumn(
                        c, F.base64(F.aes_encrypt(
                            F.col(c).cast("string"), F.lit(key), F.lit("GCM")))
                    )
            writer = (df.write.mode("overwrite")
                      .option("compression",
                              compression if compression != "none" else "uncompressed")
                      .option("maxRecordsPerFile", max_records_per_file))
            if partition_by and t in partition_by:
                writer = writer.partitionBy(*partition_by[t])
            writer.parquet(f"{dump_dir}/{t}")

        for_each_table(self.spark, tables, write_one)
        watermarks = {}
        if watermark_cols:
            for t, wc in watermark_cols.items():
                if t not in tables:
                    continue
                if wc in (encrypt_columns or {}).get(t, []):
                    raise ValueError(
                        f"watermark column {t}.{wc} cannot be encrypted")
                # Read the max back from the Parquet actually WRITTEN, not by
                # re-evaluating the lazy source: against a live source, rows
                # arriving between the write job and a source-side max() would
                # be covered by the recorded mark but absent from the dump —
                # the next incremental would skip them forever.
                mx = (self.spark.read.parquet(f"{dump_dir}/{t}")
                      .agg(F.max(F.col(wc)).alias("m")).first()["m"])
                if mx is not None:
                    watermarks[t] = [wc, str(mx)]
        info = DumpInfo(
            directory_name=name,
            size=self._dir_size(dump_dir),
            created_at=time.time(),
            compressed=compression != "none",
            encrypted=bool(encrypt_columns),
            tables=sorted(tables),
            encrypted_column_types=enc_types,
            parent=_parent,
            watermarks=watermarks,
            full_tables=(sorted(tables) if _full_tables is None
                         else sorted(_full_tables)),
        )
        m = self._read_manifest()
        m["dumps"] = [d for d in m["dumps"] if d["directory_name"] != name]
        m["dumps"].append(asdict(info))
        self._write_manifest(m)
        return info

    def dump_incremental(
        self,
        tables: dict[str, DataFrame],
        name: str | None = None,
        *,
        watermark_cols: dict[str, str],
        base: str = "latest",
        **dump_kwargs,
    ) -> DumpInfo:
        """Delta dump: write only rows whose watermark column exceeds the
        base dump's recorded high-water mark (insert-only CDC — the
        reference re-dumps everything every run; no analogue).

        Contract: watermark columns are monotonically increasing for new
        rows and existing rows are immutable.  `restore()` of an
        incremental dump unions its whole parent chain.  Tables without a
        recorded base watermark are dumped in full.
        """
        base_info = self.find_dump(base)
        deltas: dict[str, DataFrame] = {}
        full: list[str] = []
        for t, df in tables.items():
            wm = base_info.watermarks.get(t)
            wc = watermark_cols.get(t)
            if wm and wc:
                dtype = df.schema[wc].dataType
                deltas[t] = df.filter(F.col(wc) > F.lit(wm[1]).cast(dtype))
            else:
                # no usable base watermark → whole-table re-dump; recorded
                # so restore() shadows (not unions) the parent's copy
                deltas[t] = df
                full.append(t)
        info = self.dump(deltas, name, watermark_cols=watermark_cols,
                         _parent=base_info.directory_name,
                         _full_tables=full, **dump_kwargs)
        # empty deltas record no watermark of their own — inherit the base's
        inherited = {t: wm for t, wm in base_info.watermarks.items()
                     if t not in info.watermarks}
        if inherited:
            info.watermarks.update(inherited)
            m = self._read_manifest()
            for d in m["dumps"]:
                if d["directory_name"] == info.directory_name:
                    d["watermarks"] = info.watermarks
            self._write_manifest(m)
        return info

    # -- restore (read) ----------------------------------------------------

    def list_dumps(self) -> list[DumpInfo]:
        self.init()
        dumps = [DumpInfo(**d) for d in self._read_manifest()["dumps"]]
        return sorted(dumps, key=lambda d: d.created_at)

    def find_dump(self, which: str = "latest") -> DumpInfo:
        """`latest` or a dump name (reference ReadOptions::Latest/Dump,
        datastore/mod.rs:134-160)."""
        dumps = self.list_dumps()
        if not dumps:
            raise LookupError("no dumps in datastore")
        if which == "latest":
            return dumps[-1]
        for d in dumps:
            if d.directory_name == which:
                return d
        raise LookupError(f"dump not found: {which}")

    def restore(
        self,
        which: str = "latest",
        *,
        decrypt_columns: dict[str, list[str]] | None = None,
        encryption_key: str | None = None,
    ) -> dict[str, DataFrame]:
        """Read one dump back; an incremental dump unions its parent chain
        (base rows + every delta — exact under the insert-only contract)."""
        info = self.find_dump(which)
        key = _normalize_key(encryption_key) if encryption_key else None
        out = {}
        for t in info.tables:
            df = self.spark.read.parquet(self._join(info.directory_name, t))
            if decrypt_columns and t in decrypt_columns:
                if not key:
                    raise ValueError("decrypt_columns given without encryption_key")
                for c in decrypt_columns[t]:
                    orig = (info.encrypted_column_types.get(t) or {}).get(c, "string")
                    df = df.withColumn(
                        c, F.aes_decrypt(F.unbase64(F.col(c)),
                                         F.lit(key), F.lit("GCM"))
                        .cast("string").cast(orig)
                    )
            out[t] = df
        if info.parent:
            base = self.restore(info.parent, decrypt_columns=decrypt_columns,
                                encryption_key=encryption_key)
            for t, df in base.items():
                if t in out and t in info.full_tables:
                    # this dump re-wrote the table IN FULL (no base
                    # watermark existed) — the parent's copy is shadowed,
                    # unioning it would duplicate every row
                    continue
                out[t] = out[t].unionByName(df) if t in out else df
        return out

    # -- retention ---------------------------------------------------------

    def delete(self, name: str) -> None:
        """Delete one dump by name (datastore/mod.rs:41-60)."""
        info = self.find_dump(name)
        target = self._join(info.directory_name)
        self._fs(target).delete(self._jpath(target), True)
        m = self._read_manifest()
        m["dumps"] = [d for d in m["dumps"] if d["directory_name"] != name]
        self._write_manifest(m)

    def diff(self, a: str, b: str, *,
             decrypt_columns: "dict[str, list[str]] | None" = None,
             encryption_key: "str | None" = None) -> DataFrame:
        """Content diff between two dump versions (ops surface the
        reference lacks): per table, exact MULTISET row deltas via
        exceptAll plus a schema-change flag.

        Returns one row per table — (table_name, rows_a, rows_b,
        rows_added, rows_removed, schema_changed); a table absent from
        one side reports its counts with the other side at 0 and
        schema_changed TRUE.  exceptAll shuffles both sides once each —
        the cost of exactness; for append-only tables the incremental
        watermark chain already IS the delta, so diff big tables against
        their direct child dump, not across the chain.  Schemas that
        drifted are compared on the COMMON columns (the flag records the
        drift).  Encrypted columns must be decrypted for a contentful
        diff (AES-GCM's random IV re-ciphers identical plaintext on
        every dump) — pass decrypt_columns/encryption_key through, or
        those columns will count every row as changed."""
        da = self.restore(a, decrypt_columns=decrypt_columns,
                          encryption_key=encryption_key)
        db = self.restore(b, decrypt_columns=decrypt_columns,
                          encryption_key=encryption_key)
        rows = []
        for t in sorted(set(da) | set(db)):
            fa, fb = da.get(t), db.get(t)
            if fa is None or fb is None:
                present = fa if fa is not None else fb
                n = present.count()
                rows.append((t, n if fa is not None else 0,
                             n if fb is not None else 0,
                             n if fb is not None else 0,
                             n if fa is not None else 0, True))
                continue
            common = [c for c in fa.columns if c in set(fb.columns)]
            schema_changed = (
                dict(fa.dtypes) != dict(fb.dtypes))
            pa, pb = fa.select(common), fb.select(common)
            rows.append((t, fa.count(), fb.count(),
                         pb.exceptAll(pa).count(),
                         pa.exceptAll(pb).count(), schema_changed))
        return self.spark.createDataFrame(
            rows, "table_name string, rows_a long, rows_b long, "
                  "rows_added long, rows_removed long, "
                  "schema_changed boolean")

    def retain(self, *, keep_last: int | None = None,
               older_than_days: float | None = None) -> list[str]:
        """`--keep-last=N` / `--older-than=Nd` retention
        (datastore/mod.rs:62-117; cli.rs:115-127).  Returns deleted names.

        Chain-aware: a dump that is an ANCESTOR of any retained incremental
        dump survives regardless of age/position — deleting it would make
        restore() of the kept dump raise with the parent's data already
        gone (unrecoverable loss for a dump retention promised to keep)."""
        dumps = self.list_dumps()
        doomed: list[str] = []
        if keep_last is not None and len(dumps) > keep_last:
            doomed += [d.directory_name for d in dumps[:-keep_last] if keep_last > 0]
            if keep_last == 0:
                doomed = [d.directory_name for d in dumps]
        if older_than_days is not None:
            cutoff = time.time() - older_than_days * 86400
            doomed += [d.directory_name for d in dumps if d.created_at < cutoff]
        doomed = list(dict.fromkeys(doomed))  # dedupe, keep order
        by_name = {d.directory_name: d for d in dumps}
        protected: set[str] = set()
        for d in dumps:
            if d.directory_name in doomed:
                continue
            p = d.parent
            while p and p in by_name and p not in protected:
                protected.add(p)
                p = by_name[p].parent
        doomed = [n for n in doomed if n not in protected]
        for name in doomed:
            self.delete(name)
        return doomed


def _normalize_key(key: str) -> bytes:
    """Pad/truncate to 32 BYTES like the reference
    (`get_encryption_key_with_correct_length`, datastore/mod.rs:191-203).
    Byte-level, not character-level: a non-ASCII key padded to 32 CHARS
    encodes to more than 32 UTF-8 bytes and aes_encrypt rejects it at
    execution time (after some tables may already be written).  For ASCII
    keys the result is byte-identical to the old string form, so existing
    dumps decrypt unchanged."""
    b = key.encode("utf-8")
    return (b + b"0" * 32)[:32]
