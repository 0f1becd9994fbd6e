"""Checkpoint-grade filesystem access for streaming state stores.

:class:`HadoopFS` is a thin driver-side wrapper over the JVM
``org.apache.hadoop.fs.FileSystem`` (the same API Spark's own
checkpointing uses), so state stores written "next to the checkpoint
dir" actually work when that dir is ``hdfs://`` or ``s3a://`` and not
just a local mount. Plain local paths resolve through ``fs.defaultFS``
(``file:///`` in local mode), so nothing changes for tests and
single-node runs. :class:`EpochLog` and :func:`publish_parquet_dir` build
the epoch-commit protocol of the incremental stores on top of it.

Atomicity note (the honest 100 TB caveat): directory rename is atomic
on HDFS and POSIX, which is what the epoch-commit protocol relies on.
On S3A a "rename" is copy+delete — the same caveat as Spark's
FileOutputCommitter v1; deployments on raw object stores should point
state at an HDFS/consistent-rename path (or a bucket with a rename-
consistent layer), exactly as they must for Spark checkpoints.
"""

from __future__ import annotations


class HadoopFS:
    """Driver-side wrapper over the JVM Hadoop FileSystem for one base URI.

    All paths passed to methods must live under the same filesystem as
    ``base_uri`` (the usual case: every path inside one state dir).
    """

    def __init__(self, spark, base_uri: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._gw = spark.sparkContext._gateway
        self._Path = jvm.org.apache.hadoop.fs.Path
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._Path(base_uri).getFileSystem(conf)
        # FileContext gives rename(Options.Rename.NONE): atomically FAIL
        # if the destination exists — FileSystem.rename would instead
        # move src INTO an existing destination directory, which would
        # corrupt a lost commit race into nested state dirs.
        self._fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._Path(base_uri).toUri(), conf
        )

    def _p(self, path: str):
        return self._Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def list_names(self, path: str) -> list[tuple[str, bool]]:
        """Children of ``path`` as (name, is_directory) pairs; [] if absent."""
        if not self.exists(path):
            return []
        return [
            (st.getPath().getName(), bool(st.isDirectory()))
            for st in self._fs.listStatus(self._p(path))
        ]

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._p(path))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self._fs.create(self._p(path), True)
        try:
            out.write(data)
        finally:
            out.close()

    def rename(self, src: str, dst: str) -> bool:
        """Atomic no-overwrite rename (FileContext + Options.Rename.NONE):
        atomic on HDFS/POSIX, and returns False — without moving anything —
        when ``dst`` already exists (the lost-the-race signal the commit
        protocols branch on)."""
        RenameOpt = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gw.new_array(RenameOpt, 1)
        opts[0] = RenameOpt.NONE
        try:
            self._fc.rename(self._p(src), self._p(dst), opts)
            return True
        except Exception as e:  # noqa: BLE001 - py4j wraps the Java class
            if "FileAlreadyExistsException" in str(e) or "already exists" in str(e):
                return False
            raise

    def delete(self, path: str, recursive: bool = True) -> None:
        self._fs.delete(self._p(path), recursive)


class EpochLog:
    """Shadow-resolving epoch-directory bookkeeping shared by the
    incremental stores (the BM25 postings store and the persisted IVF
    index's ingest epochs).

    Layout contract under ``root``:

    - a committed ingest epoch is a dir ``epoch-<10-digit-id>``;
    - a compaction publishes ``epoch-<id>-c`` whose ``_stats.json``
      sidecar records the merged plain-epoch ids under ``"epochs"``
      (plus any store-specific stats the caller chooses to keep there);
    - the CANONICAL epoch set is resolved at LISTING time: only the
      maximal ``-c`` dir counts, and it shadows exactly the ids in its
      sidecar's merged set — so a crash between a compaction publish
      and victim removal (or a deferred ``vacuum``) never double-reads
      an epoch, and a late out-of-order ingest below the watermark
      stays readable.

    The stores keep their own ``compact`` (the merge itself is
    store-specific — postings union + stats vs cell-partitioned
    vectors) but share this class for every listing/commit/validation
    decision, so a protocol fix lands once (cf. ``publish_parquet_dir``).
    """

    def __init__(self, fs: "HadoopFS", root: str):
        self.fs = fs
        self.root = root.rstrip("/")

    def path(self, epoch_id: int, compacted: bool = False) -> str:
        suffix = "-c" if compacted else ""
        return f"{self.root}/epoch-{int(epoch_id):010d}{suffix}"

    def entries(self) -> list[tuple[int, bool, str]]:
        """Every epoch dir on disk as (epoch_id, is_compacted, name)."""
        out = []
        for name, is_dir in self.fs.list_names(self.root):
            if not (is_dir and name.startswith("epoch-")):
                continue
            sid = name.split("-", 1)[1]
            compacted = sid.endswith("-c")
            out.append((int(sid[:-2] if compacted else sid), compacted, name))
        return out

    def compacted_ids(self, entries=None) -> set[int]:
        """Epoch ids merged into the maximal ``-c`` dir (its sidecar)."""
        import json

        if entries is None:
            entries = self.entries()
        cut = max((eid for eid, c, _ in entries if c), default=-1)
        if cut < 0:
            return set()
        path = self.path(cut, compacted=True)
        s = json.loads(self.fs.read_bytes(f"{path}/_stats.json").decode())
        return set(s["epochs"])

    def canonical(self) -> list[tuple[int, str]]:
        """Canonical (epoch_id, dir) list: only the MAXIMAL ``-c`` dir
        counts, and it SHADOWS exactly the ids in its sidecar's merged
        set (a crash between compaction publish and victim removal
        leaves those dirs behind; reading them would double-count, so
        they are resolved away at listing time). A plain epoch BELOW
        the watermark whose id is NOT in the merged set is a legitimate
        late out-of-order ingest and stays readable."""
        entries = self.entries()
        cut = max((eid for eid, c, _ in entries if c), default=-1)
        merged = self.compacted_ids(entries)
        return sorted(
            (eid, f"{self.root}/{name}")
            for eid, c, name in entries
            if (c and eid == cut) or (not c and eid not in merged)
        )

    def committed(self, epoch_id: int) -> bool:
        """An epoch is provably committed when its dir exists or the
        compaction sidecar's MERGED-ID SET contains it. A HIGHER plain
        epoch proves nothing (epoch counters restart when a stream's
        checkpoint is rebuilt; out-of-order ids are legal on the
        batch-loop API), and an id merely BELOW the compaction
        watermark proves nothing either — a never-ingested id under
        the watermark must still be ingestable later."""
        if self.fs.exists(self.path(epoch_id)):
            return True
        return epoch_id in self.compacted_ids()

    def compact_victims(self, upto_epoch: int) -> list[tuple[int, str]]:
        """Validate a compaction watermark and return the victim set
        (canonical epochs with id <= ``upto_epoch``). Raises ValueError
        with the stores' shared distinguishable messages: a stale
        watermark ("already compacted"), a watermark at/above the
        newest replayable epoch, or a phantom (never-ingested) id."""
        epochs = self.canonical()
        newest = max((eid for eid, _ in epochs), default=-1)
        if upto_epoch >= newest:
            raise ValueError(
                f"compact(upto_epoch={upto_epoch}) must be strictly below "
                f"the newest committed epoch ({newest}): the newest batch "
                "is the one foreachBatch may still replay"
            )
        if upto_epoch not in {eid for eid, _ in epochs}:
            # the watermark must be an ACTUALLY-INGESTED epoch: after the
            # merge, per-id existence below the watermark survives only in
            # the sidecar's merged-id set, and a watermark at a phantom id
            # would make committed() undecidable for it
            raise ValueError(
                f"compact(upto_epoch={upto_epoch}) must name a committed "
                "epoch (out-of-order ingests below a phantom watermark "
                "would be silently dropped)"
            )
        if self.fs.exists(self.path(upto_epoch, compacted=True)):
            raise ValueError(
                f"already compacted at epoch {upto_epoch}; pick a higher one"
            )
        return [(eid, p) for eid, p in epochs if eid <= upto_epoch]

    def merged_ids(self, victims: list[tuple[int, str]]) -> set[int]:
        """The plain-epoch ids a compaction over ``victims`` covers: a
        victim that is itself a ``-c`` dir contributes its sidecar's
        merged set, a plain victim contributes its own id (sidecar-less
        epochs — the IVF store's — fall back to the id)."""
        import json

        out: set[int] = set()
        for eid, p in victims:
            # fall back to {eid} ONLY when the sidecar genuinely does not
            # exist (a plain sidecar-less epoch); a read/parse failure on
            # an EXISTING sidecar must abort the compaction — silently
            # dropping a -c victim's merged-id set would make those epochs
            # report committed()=False and a stream replay re-ingest them
            if not self.fs.exists(f"{p}/_stats.json"):
                out.add(eid)
                continue
            s = json.loads(self.fs.read_bytes(f"{p}/_stats.json").decode())
            out.update(s.get("epochs", [eid]))
        return out

    def vacuum(self) -> int:
        """Delete every epoch dir shadowed by the maximal ``-c`` dir (its
        merged plain epochs, plus any lower stale ``-c`` dirs a crash
        left behind). Returns the number of dirs removed. Caller
        contract: run only when no in-flight query's epoch listing
        predates the newest compaction publish — in a live service, a
        grace period longer than the slowest query."""
        entries = self.entries()
        cut = max((eid for eid, c, _ in entries if c), default=-1)
        if cut < 0:
            return 0
        merged = self.compacted_ids(entries)
        victims = [
            name
            for eid, c, name in entries
            if (c and eid < cut) or (not c and eid in merged)
        ]
        for name in victims:
            self.fs.delete(f"{self.root}/{name}")
        return len(victims)


def publish_parquet_dir(
    fs: "HadoopFS",
    df,
    state_dir: str,
    final: str,
    partition_by: str | None = None,
    sidecar: tuple[str, bytes] | None = None,
) -> bool:
    """Stage-then-atomic-rename publish of one parquet directory — the
    epoch-commit protocol shared by the incremental stores (Bloom /
    minhash predate this helper and keep their own copies; the BM25 and
    IVF stores route through here so a protocol fix lands once).

    Writes ``df`` to a uuid staging dir under ``<state_dir>/_staging``
    (plus an optional ``sidecar`` file, e.g. ``_stats.json``), creates
    the destination's parent, and renames atomically. Returns False —
    after retiring the staging copy — when the destination already
    exists (crash replay or a lost publish race: both no-ops).

    Anything still under ``_staging`` when a publish starts is by
    construction uncommitted garbage (a crash between the parquet write
    and the rename), so it is swept here — otherwise repeated
    crash-replays accumulate dead copies forever (ADVICE r10). The sweep
    is safe under the stores' single-writer contract (one foreachBatch /
    batch loop per state_dir); it only ever touches THIS state_dir.
    """
    import uuid as _uuid

    staging_root = f"{state_dir.rstrip('/')}/_staging"
    fs.delete(staging_root)
    staging = f"{staging_root}/e{_uuid.uuid4().hex}"
    writer = df.repartition(partition_by) if partition_by else df
    w = writer.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(staging)
    if sidecar is not None:
        name, data = sidecar
        if callable(data):
            # lazily-computed sidecar: called with the staging dir AFTER
            # the parquet write, so a caller can derive stats from the
            # just-written (distinct-pair-sized) files instead of paying
            # a second pass over the raw input
            data = data(staging)
        fs.write_bytes(f"{staging}/{name}", data)
    parent = final.rsplit("/", 1)[0]
    fs.mkdirs(parent)
    if fs.rename(staging, final):
        return True
    fs.delete(staging)
    return False
