"""The four file-pipeline verbs, Hadoop-FileSystem-backed.

Parity map (reference → here):

- ``find_google_cloud_storage_file_names`` (``download_file.py:147-152``)
  → :meth:`FsClient.list_names` (prefix-scoped listing; lexicographically
  sorted, matching GCS LIST order that the reference's ``_1, _2`` suffix
  enumeration depends on — SURVEY.md §2.A.4).
- ``find_matching_files`` (``download_file.py:155-164``) →
  :meth:`FsClient.match_names` — ``re.search`` substring semantics, NOT
  fullmatch.
- ``download_google_cloud_storage_file`` (``download_file.py:167-178``) →
  :func:`download_files` (destination folder auto-created, matching
  ``download_file.py:240-242``; overwrite-by-default §2.A.5).
- ``upload_google_cloud_storage_file`` (``upload_file.py:177-189``) →
  :func:`upload_files` (the reference's 128 MiB chunked upload maps to the
  GCS connector's ``fs.gs.outputstream.upload.chunk.size``, set in
  session.py for gs:// deployments).
- ``move_google_cloud_storage_file`` (``move_file.py:140-155``) →
  :func:`move_files` — copy-then-delete ordering preserved (a crash
  between the two leaves the source intact), with a same-filesystem
  ``rename`` fast path (atomic in GCS within a bucket).
- ``delete_google_cloud_storage_file`` (``remove_file.py:117-123``) →
  :func:`remove_files`.

Multi-file enumeration parity (SURVEY.md §2.A.2 — the semantics differ per
verb and are preserved exactly):

- download/upload regex branches always pass ``file_number=index+1``, even
  for a single match (``download_file.py:254-258``, ``upload_file.py:242-247``);
- move passes ``file_number=None`` when exactly one file matched
  (``move_file.py:185-191``) — a single regex match is NOT enumerated;
- with no explicit destination name, each match keeps its own basename
  (collisions overwrite — reference behavior, ``download_file.py:102-104``).
"""

from __future__ import annotations

import glob as _glob
import os
import posixpath
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from googlecloudstorage_blueprints_spark.errors import (
    FileNotFoundBlueprintError,
    InvalidBucketError,
)
from googlecloudstorage_blueprints_spark.paths import (
    clean_folder_name,
    combine_folder_and_file_name,
    determine_destination_full_path,
)

__all__ = [
    "FsClient",
    "download_files",
    "upload_files",
    "move_files",
    "remove_files",
]


class FsClient:
    """Thin wrapper over a Hadoop FileSystem resolved from a root URI.

    The "bucket" of the reference maps to the URI root (``gs://bucket``,
    ``file:/tmp/root``); resolving a client validates the root exists the
    way ``get_bucket`` does (``download_file.py:196-208`` → 201 on miss).
    """

    def __init__(self, spark: SparkSession, root_uri: str):
        self.spark = spark
        self.root_uri = root_uri.rstrip("/")
        jvm = spark._jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path
        self._conf = spark._jsc.hadoopConfiguration()
        try:
            self.fs = self._jpath(self.root_uri).getFileSystem(self._conf)
        except Exception as exc:  # unknown scheme / bad credentials
            raise InvalidBucketError(
                f"cannot resolve filesystem for {root_uri}: {exc}"
            ) from exc
        if not self.fs.exists(self._jpath(self.root_uri)):
            raise InvalidBucketError(f"root does not exist: {root_uri}")

    # -- listing / matching (§2.A.1 gcs-list + §2.A.3 predicates) ---------

    def _full(self, rel: str) -> str:
        return f"{self.root_uri}/{rel}" if rel else self.root_uri

    def list_names(self, prefix_folder: str = "") -> list[str]:
        """All file names (root-relative) under a folder prefix, sorted
        lexicographically (GCS LIST order — enumeration depends on it).

        A walk over ``FileSystem.listStatus``: a stack of directories,
        descending into directories and keeping files.  It needs names
        only, and ``listFiles`` builds a located status per object
        (permissions, owner, block locations): on ``file:`` without
        Hadoop's native library (4-core VM) that cost 3.6 ms per entry
        against 0.24 ms for ``listStatus``.  Names are
        built from each entry's own ``Path`` name, so the root URI's
        spelling (``file:/x`` vs ``file:///x``) never matters."""
        base = clean_folder_name(prefix_folder)
        base_path = self._jpath(self._full(base))
        if not self.fs.exists(base_path):
            return []
        if not self.fs.getFileStatus(base_path).isDirectory():
            return [base]  # the prefix names a single object
        names: list[str] = []
        stack = [(base, base_path)]
        while stack:
            rel, path = stack.pop()
            for status in self.fs.listStatus(path):
                child = status.getPath()
                name = child.getName()
                name = f"{rel}/{name}" if rel else name
                if status.isDirectory():
                    stack.append((name, child))
                else:
                    names.append(name)
        return sorted(names)

    def match_names(
        self, names: list[str], match_type: str, folder: str, file_name: str
    ) -> list[str]:
        """exact_match → path equality; regex_match → re.search substring
        over all names (``download_file.py:155-164`` parity)."""
        if match_type == "exact_match":
            target = combine_folder_and_file_name(
                clean_folder_name(folder), file_name
            )
            if target in names:
                return [target]
            # exact match must not depend on listing (point lookup,
            # download_file.py:264-266): probe the filesystem directly
            if self.exists(target):
                return [target]
            raise FileNotFoundBlueprintError(f"no such object: {target}")
        try:
            pattern = re.compile(file_name)
        except re.error as exc:
            raise FileNotFoundBlueprintError(
                f"invalid regex {file_name!r}: {exc}"
            ) from exc
        matches = [n for n in names if pattern.search(n)]
        if not matches:
            raise FileNotFoundBlueprintError(
                f"no objects matching /{file_name}/ under "
                f"{folder or '<root>'}"
            )
        return matches

    # -- primitive ops ----------------------------------------------------

    def exists(self, rel: str) -> bool:
        return bool(self.fs.exists(self._jpath(self._full(rel))))

    def copy_to_local(self, rel: str, local_path: str) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(local_path)), exist_ok=True)
        self.fs.copyToLocalFile(
            False, self._jpath(self._full(rel)),
            self._jpath(os.path.abspath(local_path)), True
        )

    def _ensure_parent(self, rel: str, ready: set[str]) -> None:
        """Create the folder ``rel`` lives in unless it is in ``ready``,
        the folders one verb call has already checked or created.  The
        set lives for one call only: on GCS a folder is implied by its
        objects and vanishes with the last of them.  Concurrent copies
        may both create one folder; ``mkdirs`` is idempotent."""
        parent = posixpath.dirname(rel)
        if parent not in ready:
            path = self._jpath(self._full(parent))
            if not self.fs.exists(path):
                self.fs.mkdirs(path)
            ready.add(parent)

    def copy_from_local(
        self, local_path: str, rel: str, ready: set[str]
    ) -> None:
        self._ensure_parent(rel, ready)
        self.fs.copyFromLocalFile(
            False, True, self._jpath(os.path.abspath(local_path)),
            self._jpath(self._full(rel)),
        )

    def delete(self, rel: str) -> None:
        """Delete one object.  Hadoop ``fs.delete`` signals failure (missing
        path, permissions, non-empty directory, concurrent removal) by
        returning ``false`` rather than raising — the reference's
        ``blob.delete()`` raises in those cases (404 → exit 205), so the
        boolean is checked and mapped to the same error class."""
        if not self.fs.delete(self._jpath(self._full(rel)), False):
            raise FileNotFoundBlueprintError(f"delete failed: {rel}")

    def server_side_move(
        self, src_rel: str, other: "FsClient", dst_rel: str,
        same_fs: bool, ready: set[str],
    ) -> None:
        """Move src → dst.  Same filesystem: atomic rename.  Cross
        filesystem: copy THEN delete (ordering preserved from
        ``move_file.py:150-153`` — crash between the calls leaves the
        source intact).  The verb call decides ``same_fs`` once and
        shares ``ready`` (see :meth:`_ensure_parent`) across its objects."""
        other._ensure_parent(dst_rel, ready)
        src = self._jpath(self._full(src_rel))
        dst = other._jpath(other._full(dst_rel))
        if same_fs:
            # overwrite-by-default §2.A.5; returns false when dst is absent
            other.fs.delete(dst, False)
            if not self.fs.rename(src, dst):
                raise FileNotFoundBlueprintError(
                    f"rename failed: {src_rel} -> {dst_rel}"
                )
            return
        util = self.spark._jvm.org.apache.hadoop.fs.FileUtil
        util.copy(self.fs, src, other.fs, dst, False, True, self._conf)
        if not self.fs.delete(src, False):
            # copy landed but the source still exists — surface it (the
            # destination is intact, so this is a cleanup failure, not
            # data loss, but silently reporting "moved" would be a lie)
            raise FileNotFoundBlueprintError(
                f"source delete failed after copy: {src_rel}"
            )


# ---------------------------------------------------------------------------
# verbs
# ---------------------------------------------------------------------------

def _run_copies(copies, max_workers: int) -> None:
    """Execute (dest, fn) copy thunks; sequential by default (exact
    reference parity — ``download_file.py:254-262`` is a single-threaded
    loop), fanned out over a thread pool when ``max_workers > 1``.
    Destinations and enumeration are precomputed before any copy starts,
    so parallelism never changes naming; Hadoop FileSystem instances are
    thread-safe and the py4j gateway serializes per-thread.  This is the
    engine's throughput edge over the reference for many-file transfers
    (IO-bound: N concurrent streams vs 1).

    Colliding destinations (two matches keeping the same basename): the
    sequential loop writes the destination once per match with the last
    match winning, and prints progress for EVERY match.  The parallel
    path reproduces both: thunks are grouped by destination, groups run
    concurrently, and thunks WITHIN a group run in match order — same
    final bytes, same per-file output lines (thread interleaving aside),
    no write race."""
    if max_workers <= 1:
        for _dest, fn in copies:
            fn()
        return
    groups: dict = {}
    for dest, fn in copies:
        groups.setdefault(dest, []).append(fn)

    def run_group(fns):
        for fn in fns:
            fn()

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [pool.submit(run_group, fns) for fns in groups.values()]
        for f in futures:
            f.result()  # re-raise the first failure


def download_files(
    spark: SparkSession,
    source_uri: str,
    source_folder_name: str = "",
    source_file_name: str = "",
    source_file_name_match_type: str = "exact_match",
    destination_folder_name: str = "",
    destination_file_name: str | None = None,
    max_workers: int = 1,
) -> list[str]:
    """GCS/FS → local download; returns local paths written.

    Mirrors ``download_file.py:228-276``: destination folder auto-created;
    regex branch enumerates every match with ``file_number=index+1``.
    ``max_workers > 1`` opts into concurrent copies (see ``_run_copies``)."""
    client = FsClient(spark, source_uri)
    dest_folder = clean_folder_name(destination_folder_name)
    if dest_folder and not os.path.exists(dest_folder):
        os.makedirs(dest_folder)

    # exact match is a point lookup — never LIST the bucket
    # (download_file.py:264-266 parity; match_names probes exists())
    names = (
        []
        if source_file_name_match_type == "exact_match"
        else client.list_names(source_folder_name)
    )
    matches = client.match_names(
        names, source_file_name_match_type,
        clean_folder_name(source_folder_name), source_file_name,
    )
    written: list[str] = []
    multi = source_file_name_match_type == "regex_match"
    if multi:  # progress parity: download_file.py:252,260
        print(f"{len(matches)} files found. Preparing to download...")
    copies = []
    for index, rel in enumerate(matches):
        dest = determine_destination_full_path(
            destination_folder_name=dest_folder,
            destination_file_name=destination_file_name,
            source_full_path=rel,
            file_number=index + 1 if multi else None,
        )
        def copy(rel=rel, dest=dest, index=index):
            # progress line lives in the thunk so sequential and parallel
            # modes emit the same per-file lines, interleaved with the
            # copy they describe (download_file.py:252,260 ordering)
            if multi:
                print(f"Downloading file {index + 1} of {len(matches)}")
            client.copy_to_local(rel, dest)
            print(
                f"{client.root_uri}/{rel} successfully downloaded to {dest}"
            )  # download_file.py:176

        copies.append((dest, copy))
        written.append(dest)
    _run_copies(copies, max_workers)
    return written


def upload_files(
    spark: SparkSession,
    destination_uri: str,
    source_folder_name: str = "",
    source_file_name: str = "",
    source_file_name_match_type: str = "exact_match",
    destination_folder_name: str = "",
    destination_file_name: str | None = None,
    max_workers: int = 1,
) -> list[str]:
    """Local → FS upload; returns root-relative destinations written.

    Mirrors ``upload_file.py:221-267``: source listing is a recursive local
    glob anchored at cwd (``upload_file.py:154-162``); regex enumerates with
    ``file_number=index+1``.  ``max_workers > 1`` opts into concurrent
    copies (see ``_run_copies``)."""
    client = FsClient(spark, destination_uri)
    folder = clean_folder_name(source_folder_name)
    if source_file_name_match_type == "exact_match":
        src = combine_folder_and_file_name(folder, source_file_name)
        if not os.path.isfile(src):
            raise FileNotFoundBlueprintError(f"no such local file: {src}")
        matches = [src]
        multi = False
    else:
        cwd = os.getcwd()
        root = f"{cwd}/{folder}" if folder else cwd
        all_paths = [
            p for p in _glob.glob(f"{root}/**", recursive=True)
            if os.path.isfile(p)
        ]
        try:
            pattern = re.compile(source_file_name)
        except re.error as exc:
            raise FileNotFoundBlueprintError(
                f"invalid regex {source_file_name!r}: {exc}"
            ) from exc
        matches = sorted(p for p in all_paths if pattern.search(p))
        if not matches:
            raise FileNotFoundBlueprintError(
                f"no local files matching /{source_file_name}/"
            )
        multi = True

    written: list[str] = []
    dest_folder = clean_folder_name(destination_folder_name)
    if multi:  # progress parity: upload_file.py:240,248
        print(f"{len(matches)} files found. Preparing to upload...")
    copies = []
    ready: set[str] = set()
    for index, src in enumerate(matches):
        dest = determine_destination_full_path(
            destination_folder_name=dest_folder,
            destination_file_name=destination_file_name,
            source_full_path=src,
            file_number=index + 1 if multi else None,
        )
        def copy(src=src, dest=dest, index=index):
            if multi:  # in-thunk for sequential/parallel line parity
                print(f"Uploading file {index + 1} of {len(matches)}")
            client.copy_from_local(src, dest, ready)
            print(
                f"{src} successfully uploaded to {client.root_uri}/{dest}"
            )  # upload_file.py:188-189

        copies.append((dest, copy))
        written.append(dest)
    _run_copies(copies, max_workers)
    return written


def move_files(
    spark: SparkSession,
    source_uri: str,
    destination_uri: str,
    source_folder_name: str = "",
    source_file_name: str = "",
    source_file_name_match_type: str = "exact_match",
    destination_folder_name: str = "",
    destination_file_name: str | None = None,
) -> list[str]:
    """FS → FS move/rename; returns destination-relative paths.

    Mirrors ``move_file.py:158-214``, including the single-regex-match
    quirk: ``file_number=None`` when exactly one file matched
    (``move_file.py:185-191``) — so a single match is NOT enumerated."""
    src_client = FsClient(spark, source_uri)
    dst_client = FsClient(spark, destination_uri)
    names = (
        []
        if source_file_name_match_type == "exact_match"
        else src_client.list_names(source_folder_name)
    )
    matches = src_client.match_names(
        names, source_file_name_match_type,
        clean_folder_name(source_folder_name), source_file_name,
    )
    dest_folder = clean_folder_name(destination_folder_name)
    moved: list[str] = []
    single = len(matches) == 1
    multi = source_file_name_match_type == "regex_match"
    if multi:  # progress parity: move_file.py:180,192 (1-based, lowercase)
        print(f"{len(matches)} files found. Preparing to move...")
    same_fs = (src_client.fs.getUri().toString()
               == dst_client.fs.getUri().toString())
    ready: set[str] = set()
    for index, rel in enumerate(matches, 1):
        dest = determine_destination_full_path(
            destination_folder_name=dest_folder,
            destination_file_name=destination_file_name,
            source_full_path=rel,
            file_number=None if single else index,
        )
        if multi:
            print(f"moving file {index} of {len(matches)}")
        src_client.server_side_move(rel, dst_client, dest, same_fs, ready)
        print(f"File moved from {rel} to {dest}")  # move_file.py:155
        moved.append(dest)
    return moved


def remove_files(
    spark: SparkSession,
    source_uri: str,
    source_folder_name: str = "",
    source_file_name: str = "",
    source_file_name_match_type: str = "exact_match",
) -> list[str]:
    """Delete matched objects; returns deleted root-relative paths.
    Mirrors ``remove_file.py:138-166``."""
    client = FsClient(spark, source_uri)
    names = (
        []
        if source_file_name_match_type == "exact_match"
        else client.list_names(source_folder_name)
    )
    matches = client.match_names(
        names, source_file_name_match_type,
        clean_folder_name(source_folder_name), source_file_name,
    )
    multi = source_file_name_match_type == "regex_match"
    if multi:  # progress parity: remove_file.py:154,157
        print(f"{len(matches)} files found. Preparing to delete...")
    for index, rel in enumerate(matches):
        if multi:
            print(f"deleting file {index + 1} of {len(matches)}")
        client.delete(rel)
        print(
            f"Blob {client.root_uri}/{rel} delete ran successfully"
        )  # remove_file.py:123
    return matches
