"""Hadoop-FileSystem IO for the persisted stores — the gram-postings
store (gram_store.py), the embedding/IVF store (similarity.py) and the
ingest sinks (stream.py). Every store touches the FileSystem through this
module only, so each primitive below has exactly one implementation and
behaves identically on file://, hdfs:// and s3a:// (all IO goes through
the path's own FileSystem, never the driver's local disk):

* :func:`fs_for` — the (FileSystem, Path) handle;
* :func:`delete` / :func:`touch` — recursive delete, marker create;
* :func:`read_int` / :func:`write_int` / :func:`read_json` /
  :func:`write_json` — small metadata files written aside and renamed
  into place (:func:`_write_text`), so a crash never leaves one torn;
* :func:`checked_rename` — a rename that raises instead of returning
  False;
* :class:`StoreLease` over :func:`_atomic_create_if_absent` — the
  single-writer maintenance lease;
* :func:`swap_in` / :func:`repair_half_swap` — the write-aside directory
  swap and its crash repair;
* :data:`STORE_PARQUET_OPTIONS` — the one parquet format every store
  writes (the gram store's table OPTIONS, and the write options of every
  path write of a library-owned store).
"""

from __future__ import annotations

import json

#: Hadoop path-capability string a FileSystem declares when its
#: create-if-absent is a CONDITIONAL WRITE (s3a on Hadoop 3.4.1+ with
#: conditional creates enabled: PUT If-None-Match — atomic even on the
#: object store where plain createNewFile is check-then-create).
CONDITIONAL_CREATE_CAPABILITY = "fs.capability.conditional.create"

#: Parquet write options of every persisted store. zstd entropy-codes the
#: pages snappy only LZ-matches: a store's bytes on disk are the IO every
#: probe pays per batch, and zstd keeps about two thirds of snappy's
#: (random-word gram postings, dense doc_id columns). Writers of USER
#: tables (sources/formats.py, bucketed.py, maintenance.py) keep the
#: session's codec.
STORE_PARQUET_OPTIONS = {"compression": "zstd"}


def fs_for(spark, path: str):
    """(FileSystem, Path) for ``path`` through its own scheme's
    FileSystem."""
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(spark._jsc.hadoopConfiguration()), jp


def delete(spark, path: str) -> None:
    """Recursive delete of ``path`` if it exists."""
    fs, jp = fs_for(spark, path)
    if fs.exists(jp):
        fs.delete(jp, True)


def touch(spark, path: str) -> None:
    """Create the empty marker file ``path`` (and its parent dir)."""
    fs, jp = fs_for(spark, path)
    parent = jp.getParent()
    if not fs.exists(parent):
        fs.mkdirs(parent)
    fs.createNewFile(jp)


def checked_rename(fs, src, dst) -> None:
    """``FileSystem.rename`` returns False instead of raising on most
    failure modes (destination exists, source missing, cross-FS move);
    an unchecked False silently no-ops a swap step and leaves the store
    half-moved. Raise instead."""
    if not fs.rename(src, dst):
        raise RuntimeError(
            f"filesystem rename failed: {src} -> {dst}; nothing was "
            "moved — inspect and re-run"
        )


# -- atomic metadata files ---------------------------------------------------
#
# Write protocol: write ``<file>__tmp`` completely (its content ends in a
# newline, written last), delete ``<file>``, rename the temp file into
# place. A crash between the delete and the rename leaves a COMPLETE temp
# file and no final file; both the reader and the next writer roll that
# temp file forward first, so the delete→rename window never reads as
# "file absent". A temp file WITHOUT its trailing newline is torn (the
# crash hit its write) and is never rolled forward.


def _read_bytes(spark, fs, jp) -> bytes:
    stm = fs.open(jp)
    try:
        return bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stm))
    finally:
        stm.close()


def _roll_forward(spark, fs, jp, tmp) -> bool:
    """Finish a write that crashed between its delete and its rename
    (``jp`` absent, ``tmp`` present); True when ``tmp`` was complete and
    is now ``jp``."""
    if not _read_bytes(spark, fs, tmp).endswith(b"\n"):
        return False
    checked_rename(fs, tmp, jp)
    return True


def _read_text(spark, path: str) -> "str | None":
    fs, jp = fs_for(spark, path)
    if not fs.exists(jp):
        tmp = spark._jvm.org.apache.hadoop.fs.Path(path + "__tmp")
        if not (fs.exists(tmp) and _roll_forward(spark, fs, jp, tmp)):
            return None
    return _read_bytes(spark, fs, jp).decode()


def _write_text(spark, path: str, text: str) -> None:
    fs, jp = fs_for(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + "__tmp")
    if fs.exists(tmp) and not fs.exists(jp):
        # a crashed write's complete value must land before this write
        # truncates its temp file — else a second crash loses both
        _roll_forward(spark, fs, jp, tmp)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray((text + "\n").encode()))
    finally:
        out.close()
    if fs.exists(jp):
        fs.delete(jp, False)
    checked_rename(fs, tmp, jp)


def _read(spark, path: str, parse, default=None):
    text = _read_text(spark, path)
    if text is None:
        if default is None:
            raise FileNotFoundError(f"store metadata file missing: {path}")
        return default
    try:
        return parse(text)
    except ValueError:
        raise ValueError(
            f"malformed store metadata file {path}: {text!r}"
        ) from None


def read_int(spark, path: str, default: "int | None" = None) -> int:
    """The integer in ``path``. An absent file returns ``default`` when
    one is given (absence is legitimate only where the caller says so)
    and raises FileNotFoundError otherwise; malformed content raises
    ValueError — a metadata value is never silently derived."""
    return _read(spark, path, int, default)


def write_int(spark, path: str, n: int) -> None:
    """Atomically replace ``path`` with the integer ``n``."""
    _write_text(spark, path, str(int(n)))


def read_json(spark, path: str):
    """The JSON document in ``path``; absent or malformed raises."""
    return _read(spark, path, json.loads)


def write_json(spark, path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON."""
    _write_text(spark, path, json.dumps(obj))


# -- maintenance lease --------------------------------------------------------


def _atomic_create_if_absent(fs, jp) -> bool:
    """Create-if-absent through the strongest primitive the FileSystem
    declares. Connectors declaring ``fs.capability.conditional.create``
    get the builder create with ``overwrite(False)`` — on Hadoop 3.4.1+
    s3a a conditional PUT, so of two racing creators exactly one wins
    even over eventually-visible listings (the loser surfaces as
    FileAlreadyExists/RemoteFileChanged at build or close, possibly
    wrapped: the Java cause chain is walked). Everything else falls back
    to ``createNewFile``. Returns True when this caller created the
    file, False when a rival holds it; any other IO failure re-raises —
    a network error must not read as 'held'. A transient failure after
    the PUT materialized can still leave an orphan lease to break — the
    safe direction (the acquire errors rather than reporting 'held')."""
    try:
        conditional = bool(
            fs.hasPathCapability(jp, CONDITIONAL_CREATE_CAPABILITY)
        )
    except Exception:  # noqa: BLE001 — FS predating the probe API
        conditional = False
    if not conditional:
        return bool(fs.createNewFile(jp))
    try:
        out = fs.createFile(jp).overwrite(False).build()
        try:
            out.write(bytearray(b"lease"))
        finally:
            out.close()
        return True
    except Exception as e:  # noqa: BLE001 — split on the Java class below
        je = getattr(e, "java_exception", None)
        names = []
        while je is not None and len(names) < 8:  # bounded cause walk
            names.append(je.getClass().getName())
            je = je.getCause()
        if any(
            "FileAlreadyExistsException" in name
            or "PathExistsException" in name
            or "RemoteFileChangedException" in name
            for name in names
        ):
            return False  # the rival's conditional create won
        raise


class StoreMaintenanceLockError(RuntimeError):
    """A store mutation refused because the other side of the
    maintenance handshake is live: a maintenance lease is held (a
    compact or save is in flight — or crashed without releasing), or,
    for the gram store, a compact found a writer's in-progress marker.
    Raised instead of corrupting silently. A lease or marker left by a
    crashed holder is broken explicitly (``break_lease()``, or
    ``compact(force=True)`` on the gram store) once the operator
    confirms no holder is live."""


class StoreLease:
    """Single-writer maintenance lease: the file ``lease_path``, created
    if absent on :meth:`acquire` and deleted on :meth:`release`. Usable
    as a context manager.

    Per-scheme guarantee of the create-if-absent underneath
    (:func:`_atomic_create_if_absent`):

    * **hdfs://** — atomic in the NameNode: two maintainers cannot both
      win.
    * **file://** — check-then-create inside one JVM call: atomic for
      every single-host interleaving, racy only across hosts sharing
      NFS.
    * **object stores declaring ``fs.capability.conditional.create``**
      (s3a on Hadoop 3.4.1+ with conditional writes) — atomic: the
      acquire is a conditional PUT.
    * **other object stores** — check-then-create over eventually-
      visible listings: best-effort. The lease turns the race into a
      loud refusal whenever the rival's PUT is visible first but cannot
      close the window; deployments maintaining such a store from
      several jobs should add an external lock (a ZooKeeper/DynamoDB
      mutex or the scheduler's own mutual exclusion).

    A crashed holder leaves its lease behind: :meth:`break_lease`
    deletes it regardless of owner, once the operator confirms the
    holder is dead."""

    def __init__(self, spark, lease_path: str, owner: str) -> None:
        self.spark = spark
        self.lease_path = lease_path
        self.owner = owner
        self.held = False

    def acquire(self) -> "StoreLease":
        fs, jp = fs_for(self.spark, self.lease_path)
        if not _atomic_create_if_absent(fs, jp):
            raise StoreMaintenanceLockError(
                f"maintenance lease already held for {self.owner} "
                f"({self.lease_path}); maintenance is in flight or "
                "crashed — break_lease() after confirming no holder is "
                "live"
            )
        self.held = True
        return self

    def release(self) -> None:
        """No-op unless held: never deletes a foreign holder's lease
        (that deliberate override is :meth:`break_lease`)."""
        if self.held:
            self.break_lease()

    def break_lease(self) -> None:
        """Delete the lease file whoever created it (crash repair)."""
        self.held = False
        delete(self.spark, self.lease_path)

    def __enter__(self) -> "StoreLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


# -- write-aside directory swap -----------------------------------------------


def _swap_paths(spark, path: str, half: str):
    jp = spark._jvm.org.apache.hadoop.fs.Path
    return (
        jp(f"{path}/{half}"),
        jp(f"{path}/{half}__next"),
        jp(f"{path}/{half}__old"),
    )


def swap_in(spark, path: str, half: str) -> None:
    """Replace the live dir ``path/half`` with the fully written
    ``path/half__next``: ``rename(live, __old); rename(__next, live);
    delete(__old)``. Every rename is checked; a crash at any point is
    converged by :func:`repair_half_swap`."""
    fs, _ = fs_for(spark, path)
    live, nxt, old = _swap_paths(spark, path, half)
    if fs.exists(old):
        fs.delete(old, True)
    checked_rename(fs, live, old)
    checked_rename(fs, nxt, live)
    fs.delete(old, True)


def repair_half_swap(spark, path: str, half: str) -> None:
    """Converge a :func:`swap_in` that crashed between its two renames,
    leaving ``path/half`` absent (call under the store's lease):

    - ``__next`` present: it was fully written before any rename moved
      (the swap's precondition), so roll FORWARD — ``rename(__next,
      live)`` completes the swap;
    - only ``__old`` present: roll BACK — ``rename(__old, live)``
      restores the pre-swap dir.

    A live dir that exists needs no repair: a leftover ``__next`` is
    overwritten by the next write-aside, a leftover ``__old`` is cleared
    by the next swap."""
    fs, _ = fs_for(spark, path)
    live, nxt, old = _swap_paths(spark, path, half)
    if fs.exists(live):
        return
    if fs.exists(nxt):
        checked_rename(fs, nxt, live)
        if fs.exists(old):
            fs.delete(old, True)
    elif fs.exists(old):
        checked_rename(fs, old, live)
