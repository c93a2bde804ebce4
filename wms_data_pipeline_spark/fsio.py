"""Scheme-aware control-plane file I/O via the Hadoop FileSystem API.

``ParquetTable`` keeps its commit record in a tiny ``_VERSION`` pointer
file next to the data — the one pointer protocol of every parquet sink
(``PartitionedMergeTable`` is a ParquetTable per bucket directory, the
control tables wrap one). The DATA side
(``spark.read/write.parquet``) was always scheme-agnostic, but the pointer
was driver-local ``open()``/``os.replace`` — meaning the warehouse root had
to live on the driver's local disk. On a real cluster the control plane
must live on the same store as the data (``hdfs://``, ``s3a://``, ...), so
this module routes the pointer reads/writes/renames and the stale-dir
probes through ``org.apache.hadoop.fs.FileSystem`` — the same pattern as
``streaming.pipeline._require_neardup_index``. Any filesystem Spark can
read parquet from now also carries the table pointer.

ATOMICITY, by scheme (single-writer discipline is assumed for the default
``_VERSION`` rewrite protocol — same as the reference's
one-staging-run-per-entity model; ``ParquetTable(concurrent_writers=True)``
upgrades to create-exclusive commit markers, see below):

- ``file://`` (and schemeless local paths): ``rename`` maps to POSIX
  ``rename(2)`` which atomically overwrites — identical guarantees to the
  old ``os.replace``.
- ``hdfs://``: ``FileSystem.rename`` refuses to overwrite, so the flip is
  try-rename-first, and only on failure preserve-dest-as-``.old``-then-
  rename. A reader racing that fallback window observes the ``.old``
  pointer (the PREVIOUS committed version — stale but safe) via
  ``read_text_committed`` instead of a missing pointer; a crash inside the
  window likewise recovers to the previous version rather than losing the
  pointer outright (ADVICE r12).
- ``s3a://``: rename is emulated copy+delete — NOT atomic. Single-writer
  publishes remain correct (the pointer content is a bare integer written
  whole), but concurrent readers may briefly see the old pointer or a
  missing one (then the ``.old`` fallback). Multi-writer or strict-reader
  deployments should graduate to Delta/Iceberg optimistic commit (SURVEY
  §7.3 hard part 3) — exactly the caveat those formats exist to solve.

CREATE-EXCLUSIVE (``create_exclusive``), the optimistic-concurrency
primitive behind ``concurrent_writers=True`` commit markers:

- Dispatch is on the RESOLVED filesystem's scheme (``fs.getUri()``), not
  the raw path string: a schemeless root resolves through ``fs.defaultFS``
  exactly like every other TableFS op, so on a cluster with
  ``defaultFS=hdfs://`` a schemeless table takes the Hadoop leg rather
  than silently writing markers to the driver's local disk (ADVICE r13).
- ``file://``/local: driver-side ``O_CREAT|O_EXCL`` — kernel-atomic; two
  racing claimants get exactly one winner.
- ``hdfs://``: ``FileSystem.create(path, overwrite=false)`` — the
  existence check is namenode-side and atomic with the create.
- ``s3a://`` (r14): S3 supports conditional PUTs (``If-None-Match: *``)
  and Hadoop's conditional-create support (HADOOP-19256, in the 3.4.2
  line — the ``fs.option.create.conditional.overwrite`` createFile option
  this build ships) makes ``create(path, overwrite=false)`` an atomic
  store-side claim, with a losing racer surfacing at CLOSE (object
  stores upload on close). ``create_exclusive`` probes the capability at
  runtime (``hasPathCapability``) and treats a close-time failure on an
  existing path as losing the race; operators on connector builds that
  perform the conditional PUT but predate the capability announcement
  can assert it with ``wms.fsio.s3a.conditional.create=true`` in the
  Hadoop conf. WITHOUT either signal the old check-then-put behavior
  cannot claim exclusively, so ``create_exclusive`` REFUSES s3-family
  roots loudly — single-writer-only, graduate to Delta/Iceberg (the
  pre-r14 docstring caveat, now enforced in code).

Each call is one py4j round-trip; fine for control-plane files, never used
on the data path.
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import SparkSession

#: Path-capability names announcing that ``create(path, overwrite=false)``
#: executes as an ATOMIC conditional write on the resolved store. Hadoop's
#: conditional-create work (HADOOP-19256, 3.4.2 line) registers the
#: createFile option name as a path capability on stores where it is
#: active; extend the tuple as connectors publish more names.
CONDITIONAL_CREATE_CAPS = ("fs.option.create.conditional.overwrite",)

#: Hadoop-conf override: set "true" when the deployed connector+store pair
#: performs create(overwrite=false) as a conditional PUT but predates the
#: capability announcement (or uses a custom connector). The operator is
#: asserting atomicity — document it in the deployment.
S3A_CONDITIONAL_CREATE_CONF = "wms.fsio.s3a.conditional.create"

#: Schemes whose FileSystem.create(overwrite=false) is a client-side
#: check-then-put UNLESS the store+connector announces conditional-create:
#: two racers can both "win" a commit marker, which is silent lost commits.
_CHECK_THEN_PUT_SCHEMES = ("s3a", "s3n", "s3")


def join(base: str, *parts: str) -> str:
    """URI-safe path join: keeps the scheme/authority of ``base`` intact
    (``os.path.join`` would too on POSIX, but be explicit about it)."""
    out = base.rstrip("/")
    for p in parts:
        out = out + "/" + p.strip("/")
    return out


class TableFS:
    """Small-file I/O for one table root, on whatever filesystem the
    root's scheme resolves to (Hadoop ``Path.getFileSystem``)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._jvm = spark._jvm
        self._jpath_cls = self._jvm.org.apache.hadoop.fs.Path
        fs = self._jpath_cls(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        # Local paths resolve to ChecksumFileSystem, which writes .crc
        # sidecars next to every pointer and then refuses to read a pointer
        # an operator hand-restored with `echo` (checksum mismatch — exactly
        # the recovery flow CorruptTablePointerError documents). Unwrap to
        # the raw filesystem for these byte-sized control files; HDFS/S3A
        # are not checksum-wrapped and pass through unchanged.
        try:
            fs = fs.getRawFileSystem()
        except Exception:
            pass
        self._fs = fs
        try:
            self._scheme = fs.getUri().getScheme()
        except Exception:
            self._scheme = None
        self._cond_create = None  # lazy (bool, reason) cache

    def _p(self, path: str):
        return self._jpath_cls(path)

    # -- probes -------------------------------------------------------------
    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def is_dir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory())

    def list_names(self, path: str) -> "list[str]":
        """Child entry basenames of a directory; [] if it doesn't exist."""
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)]

    # -- small-file read/write ----------------------------------------------
    def read_text(self, path: str) -> "str | None":
        """Full contents of a small text file, or None if absent."""
        p = self._p(path)
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        """Write-tmp-then-rename pointer flip (see module docstring for the
        per-scheme atomicity story)."""
        tmp = self._p(path + ".tmp")
        dst = self._p(path)
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        # Try the overwriting rename first (atomic on file://). Where rename
        # refuses an existing destination (HDFS), PRESERVE the committed
        # pointer as .old before the second rename instead of deleting it:
        # a crash (or a racing reader) inside the window then finds the
        # previous committed version via read_text_committed rather than no
        # pointer at all (ADVICE r12 — delete-then-rename lost the pointer).
        if not self._fs.rename(tmp, dst):
            old = self._p(path + ".old")
            self._fs.delete(old, False)
            self._fs.rename(dst, old)
            if not self._fs.rename(tmp, dst):
                raise IOError(
                    f"could not publish pointer {path!r} (rename failed "
                    f"twice); tmp file left at {path + '.tmp'!r}, previous "
                    f"pointer preserved at {path + '.old'!r}"
                )

    def read_text_committed(self, path: str) -> "str | None":
        """``read_text`` with the crashed-flip fallback: when the pointer
        itself is missing, serve ``<path>.old`` — the PREVIOUS committed
        pointer preserved by ``write_text_atomic``'s non-overwriting-rename
        path. Stale-but-safe: the flip that crashed never committed, so the
        previous version IS the table's current state. (``<path>.tmp`` is
        never consulted — it holds the UNcommitted flip target.)"""
        got = self.read_text(path)
        if got is not None:
            return got
        return self.read_text(path + ".old")

    def create_exclusive(self, path: str, text: str) -> bool:
        """Atomically create ``path`` with ``text`` iff it does not already
        exist; returns False when another writer holds it. The optimistic-
        concurrency claim primitive — per-scheme atomicity in the module
        docstring (kernel O_EXCL locally, namenode-atomic on HDFS, NOT safe
        on s3a)."""
        # Dispatch on the RESOLVED filesystem's scheme, not on the raw path
        # string: a schemeless path resolves through fs.defaultFS (same as
        # every other TableFS op), so on a cluster with defaultFS=hdfs:// a
        # schemeless table root must take the Hadoop create(overwrite=false)
        # leg. urlparse-dispatch would write the marker to the DRIVER'S
        # local disk while _marker_versions lists HDFS — invisible markers,
        # every concurrent publisher "winning" the same version (ADVICE r13
        # high). Only a root that actually resolves to the local/raw-local
        # filesystem takes the kernel O_EXCL fast path.
        if self._scheme == "file":
            return self._create_exclusive_local(path, text)
        if self._scheme in _CHECK_THEN_PUT_SCHEMES:
            ok, how = self._conditional_create_support(path)
            if not ok:
                raise IOError(
                    f"create_exclusive on {self._scheme}://: {how}. "
                    "FileSystem.create(overwrite=false) is check-then-put "
                    "on this store — two racing publishers can both claim "
                    "the same commit marker (silent lost commits). This "
                    "table root is SINGLE-WRITER-ONLY here: upgrade to a "
                    "connector+store with conditional-create (the "
                    f"{CONDITIONAL_CREATE_CAPS[0]!r} path capability), "
                    f"assert it via {S3A_CONDITIONAL_CREATE_CONF}=true, or "
                    "graduate to Delta/Iceberg optimistic commit."
                )
        return self._create_exclusive_hadoop(path, text)

    def _conditional_create_support(self, path: str) -> "tuple[bool, str]":
        """Whether the resolved store claims create(overwrite=false) is an
        atomic conditional write: the operator's conf assertion first,
        then the published path capability (cached — control-plane
        round-trips, but create_exclusive is called per publish)."""
        if self._cond_create is None:
            conf = self.spark._jsc.hadoopConfiguration()
            if str(conf.get(S3A_CONDITIONAL_CREATE_CONF, "")).lower() == "true":
                self._cond_create = (
                    True, f"asserted via {S3A_CONDITIONAL_CREATE_CONF}"
                )
            else:
                got = None
                for cap in CONDITIONAL_CREATE_CAPS:
                    try:
                        if self._fs.hasPathCapability(self._p(path), cap):
                            got = (True, f"path capability {cap!r}")
                            break
                    except Exception:
                        continue
                self._cond_create = got or (
                    False,
                    "store announces no conditional-create path capability "
                    f"(probed {list(CONDITIONAL_CREATE_CAPS)}) and "
                    f"{S3A_CONDITIONAL_CREATE_CONF} is unset",
                )
        return self._cond_create

    def _create_exclusive_local(self, path: str, text: str) -> bool:
        parsed = urllib.parse.urlparse(path)
        local = parsed.path if parsed.scheme == "file" else path
        os.makedirs(os.path.dirname(local), exist_ok=True)
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, text.encode("utf-8"))
        finally:
            os.close(fd)
        return True

    def _create_exclusive_hadoop(self, path: str, text: str) -> bool:
        try:
            out = self._fs.create(self._p(path), False)
        except Exception:
            # Hadoop raises FileAlreadyExistsException (py4j-wrapped) when
            # overwrite=false loses the race; anything else resurfaces on
            # the next probe.
            if self.exists(path):
                return False
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
            out.close()
        except Exception:
            # Object stores upload at close(): a conditional-PUT race loss
            # surfaces HERE, not at create(). An existing object under the
            # path means another writer won; anything else is a real I/O
            # failure.
            try:
                out.close()
            except Exception:
                pass
            if self.exists(path):
                return False
            raise
        return True

    # -- mutation -----------------------------------------------------------
    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def delete(self, path: str, recursive: bool = True) -> None:
        p = self._p(path)
        if self._fs.exists(p):
            self._fs.delete(p, recursive)
