"""Round-trip tests for the file verbs on a tmpdir tree over ``file:`` URIs
(same Hadoop FileSystem code path as gs:// — FIXTURES.md 'File-ops
fixtures').

Tree exercises regex substring matching, basename collisions across
folders, and first-dot enumeration (a.tar.gz → a_1.tar.gz).
"""

from __future__ import annotations

import os

import pytest

from googlecloudstorage_blueprints_spark.errors import (
    FileNotFoundBlueprintError,
    InvalidBucketError,
)
from googlecloudstorage_blueprints_spark.fileops import (
    FsClient,
    download_files,
    move_files,
    remove_files,
    upload_files,
)


@pytest.fixture()
def tree(tmp_path):
    root = tmp_path / "bucket"
    (root / "data" / "sub").mkdir(parents=True)
    (root / "data" / "a.csv").write_text("a1")
    (root / "data" / "a.tar.gz").write_text("a2")
    (root / "data" / "sub" / "a.csv").write_text("a3")
    (root / "data" / "b_1.txt").write_text("b")
    return root


def _uri(p) -> str:
    return f"file:{p}"


def test_client_missing_root_raises_201(spark, tmp_path):
    with pytest.raises(InvalidBucketError) as exc:
        FsClient(spark, _uri(tmp_path / "nope"))
    assert exc.value.exit_code == 201


def test_list_names_sorted(spark, tree):
    client = FsClient(spark, _uri(tree))
    names = client.list_names("")
    assert names == sorted(names)
    assert "data/a.csv" in names and "data/sub/a.csv" in names


# -- listing semantics: pinned against an os.walk oracle ------------------


@pytest.fixture()
def deep_tree(tmp_path):
    """Three levels of folders, names with spaces and non-ASCII
    characters, and an empty sub-directory."""
    root = tmp_path / "deep"
    files = [
        "top.txt",
        "l1/a b.csv",
        "l1/ünï.txt",
        "l1/l2/x.bin",
        "l1/l2/l3/ßeta gamma.json",
        "l1/l2/l3/z.bin",
        "other/o.txt",
    ]
    for rel in files:
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(rel)
    (root / "l1" / "empty").mkdir()
    (root / "l1" / "l2" / "also-empty").mkdir()
    return root


def _walk_oracle(root, prefix: str = "") -> list[str]:
    base = os.path.join(root, prefix) if prefix else str(root)
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, fs in os.walk(base)
        for f in fs
        if not f.endswith(".crc")
    )


def test_list_names_equals_walk_oracle(spark, deep_tree):
    names = FsClient(spark, _uri(deep_tree)).list_names("")
    assert names == _walk_oracle(deep_tree)
    assert "l1/l2/l3/ßeta gamma.json" in names and "l1/a b.csv" in names


def test_list_names_under_prefix(spark, deep_tree):
    client = FsClient(spark, _uri(deep_tree))
    assert client.list_names("l1/l2") == _walk_oracle(deep_tree, "l1/l2")
    # leading/trailing slashes are cleaned like every folder argument
    assert client.list_names("/l1/l2/") == _walk_oracle(deep_tree, "l1/l2")


def test_list_names_skips_checksum_side_files(spark, deep_tree):
    """Hadoop's local filesystem keeps checksums in ``.<name>.crc`` side
    files; the listing shows the objects only."""
    (deep_tree / "l1" / "l2" / ".x.bin.crc").write_bytes(b"crc")
    (deep_tree / ".top.txt.crc").write_bytes(b"crc")
    names = FsClient(spark, _uri(deep_tree)).list_names("")
    assert names == _walk_oracle(deep_tree)
    assert not any(n.endswith(".crc") for n in names)


def test_list_names_prefix_naming_one_object(spark, deep_tree):
    client = FsClient(spark, _uri(deep_tree))
    assert client.list_names("l1/l2/x.bin") == ["l1/l2/x.bin"]
    assert client.list_names("l1/a b.csv") == ["l1/a b.csv"]


def test_list_names_missing_prefix_is_empty(spark, deep_tree):
    assert FsClient(spark, _uri(deep_tree)).list_names("no/such/dir") == []


def test_list_names_empty_directory_contributes_nothing(spark, deep_tree):
    client = FsClient(spark, _uri(deep_tree))
    assert client.list_names("l1/empty") == []
    names = client.list_names("l1")
    assert not any("empty" in n for n in names)


def test_download_exact(spark, tree, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    out = download_files(
        spark,
        _uri(tree),
        source_folder_name="data",
        source_file_name="a.csv",
        source_file_name_match_type="exact_match",
        destination_folder_name="out",
    )
    assert out == ["out/a.csv"]
    assert (tmp_path / "out" / "a.csv").read_text() == "a1"


def test_download_regex_enumerates_every_match(spark, tree, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    out = download_files(
        spark,
        _uri(tree),
        source_file_name=r"a\.csv",
        source_file_name_match_type="regex_match",
        destination_file_name="got.csv",
    )
    # two matches (data/a.csv, data/sub/a.csv) → _1, _2 before first dot
    assert out == ["got_1.csv", "got_2.csv"]
    assert (tmp_path / "got_1.csv").read_text() == "a1"
    assert (tmp_path / "got_2.csv").read_text() == "a3"


def test_download_regex_single_match_still_enumerated(
    spark, tree, tmp_path, monkeypatch
):
    """download's regex branch always enumerates (download_file.py:254-258)."""
    monkeypatch.chdir(tmp_path)
    out = download_files(
        spark,
        _uri(tree),
        source_file_name=r"tar\.gz",
        source_file_name_match_type="regex_match",
        destination_file_name="x.tar.gz",
    )
    assert out == ["x_1.tar.gz"]  # first-dot rule


def test_download_no_destination_name_keeps_basenames(
    spark, tree, tmp_path, monkeypatch
):
    """Collisions across folders silently overwrite (reference behavior)."""
    monkeypatch.chdir(tmp_path)
    out = download_files(
        spark,
        _uri(tree),
        source_file_name=r"a\.csv",
        source_file_name_match_type="regex_match",
    )
    assert out == ["a.csv", "a.csv"]
    # later match (data/sub/a.csv, lexicographically after data/a.csv) wins
    assert (tmp_path / "a.csv").read_text() == "a3"


def test_download_missing_exact_raises_205(spark, tree, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(FileNotFoundBlueprintError) as exc:
        download_files(
            spark, _uri(tree),
            source_folder_name="data", source_file_name="zzz.csv",
        )
    assert exc.value.exit_code == 205


def test_upload_exact_and_regex(spark, tree, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    (tmp_path / "up").mkdir()
    (tmp_path / "up" / "x.csv").write_text("x1")
    (tmp_path / "up" / "y.csv").write_text("y1")

    dest = tmp_path / "dest_bucket"
    dest.mkdir()
    out = upload_files(
        spark, _uri(dest),
        source_folder_name="up", source_file_name="x.csv",
        destination_folder_name="landed",
    )
    assert out == ["landed/x.csv"]
    assert (dest / "landed" / "x.csv").read_text() == "x1"

    out = upload_files(
        spark, _uri(dest),
        source_folder_name="up", source_file_name=r"\.csv",
        source_file_name_match_type="regex_match",
        destination_file_name="all.csv",
    )
    assert out == ["all_1.csv", "all_2.csv"]


def test_move_single_regex_match_not_enumerated(spark, tree, tmp_path):
    """move's quirk: a single regex match keeps the plain name
    (move_file.py:185-191)."""
    dest = tmp_path / "dest_bucket"
    dest.mkdir()
    out = move_files(
        spark, _uri(tree), _uri(dest),
        source_file_name=r"tar\.gz",
        source_file_name_match_type="regex_match",
        destination_file_name="moved.tar.gz",
    )
    assert out == ["moved.tar.gz"]  # no _1
    assert (dest / "moved.tar.gz").read_text() == "a2"
    assert not (tree / "data" / "a.tar.gz").exists()  # source removed


def test_move_multi_regex_enumerates_from_1(spark, tree, tmp_path):
    dest = tmp_path / "dest_bucket"
    dest.mkdir()
    out = move_files(
        spark, _uri(tree), _uri(dest),
        source_file_name=r"a\.csv",
        source_file_name_match_type="regex_match",
        destination_file_name="m.csv",
    )
    assert out == ["m_1.csv", "m_2.csv"]


def test_move_into_new_nested_folder_overwrites_existing(spark, tree,
                                                          tmp_path):
    """Every object of one call lands in a folder the call creates; an
    object already at a destination is overwritten, not kept."""
    dest = tmp_path / "dest_bucket"
    (dest / "x" / "y").mkdir(parents=True)
    (dest / "x" / "y" / "m_2.csv").write_text("stale")
    out = move_files(
        spark, _uri(tree), _uri(dest),
        source_file_name=r"a\.csv",
        source_file_name_match_type="regex_match",
        destination_folder_name="x/y/z", destination_file_name="m.csv",
    )
    assert out == ["x/y/z/m_1.csv", "x/y/z/m_2.csv"]
    assert (dest / "x" / "y" / "z" / "m_1.csv").read_text() == "a1"
    assert (dest / "x" / "y" / "z" / "m_2.csv").read_text() == "a3"
    out = move_files(
        spark, _uri(dest), _uri(dest),
        source_folder_name="x/y/z", source_file_name=r"m_2",
        source_file_name_match_type="regex_match",
        destination_folder_name="x/y",
    )
    assert out == ["x/y/m_2.csv"]
    assert (dest / "x" / "y" / "m_2.csv").read_text() == "a3"
    assert FsClient(spark, _uri(dest)).list_names("x") == [
        "x/y/m_2.csv", "x/y/z/m_1.csv"]


def test_remove_regex(spark, tree):
    removed = remove_files(
        spark, _uri(tree),
        source_file_name=r"\.csv$",
        source_file_name_match_type="regex_match",
    )
    assert sorted(removed) == ["data/a.csv", "data/sub/a.csv"]
    assert not (tree / "data" / "a.csv").exists()
    assert (tree / "data" / "a.tar.gz").exists()


def test_remove_no_match_raises_205(spark, tree):
    with pytest.raises(FileNotFoundBlueprintError) as exc:
        remove_files(
            spark, _uri(tree),
            source_file_name="nomatch",
            source_file_name_match_type="regex_match",
        )
    assert exc.value.exit_code == 205


def test_roundtrip_special_character_names(spark, tmp_path, monkeypatch):
    """Names with spaces, dots, dashes and unicode survive the
    upload→download round trip with reference naming semantics intact."""
    from googlecloudstorage_blueprints_spark.fileops import (
        download_files,
        upload_files,
    )

    src = tmp_path / "work"
    src.mkdir()
    names = ["with space.csv", "uni-ünïcodé.txt", "many.dots.tar.gz",
             "trailing-dash-"]
    for n in names:
        (src / n).write_text(f"payload:{n}")
    monkeypatch.chdir(src)

    (tmp_path / "bucket").mkdir()  # buckets must pre-exist (code 201)
    bucket = f"file:{tmp_path}/bucket"
    up = upload_files(
        spark, bucket,
        source_folder_name="", source_file_name=r".",
        source_file_name_match_type="regex_match",
        destination_folder_name="in", destination_file_name=None,
    )
    assert len(up) == len(names)

    out = tmp_path / "out"
    out.mkdir()
    monkeypatch.chdir(out)
    down = download_files(
        spark, bucket,
        source_folder_name="in", source_file_name=r".",
        source_file_name_match_type="regex_match",
        destination_folder_name="", destination_file_name=None,
    )
    assert len(down) == len(names)
    for n in names:
        assert (out / n).read_text() == f"payload:{n}", n


# -- progress reporting parity (SURVEY §2.A.5; download_file.py:252,260,
#    upload_file.py:240,248, move_file.py:180,192, remove_file.py:154,157) --


def test_download_regex_progress_lines(spark, tree, tmp_path, monkeypatch,
                                       capsys):
    monkeypatch.chdir(tmp_path)
    download_files(
        spark, _uri(tree),
        source_file_name=r"a\.csv",
        source_file_name_match_type="regex_match",
        destination_file_name="got.csv",
    )
    out = capsys.readouterr().out
    assert "2 files found. Preparing to download..." in out
    assert "Downloading file 1 of 2" in out
    assert "Downloading file 2 of 2" in out
    assert "successfully downloaded to got_1.csv" in out


def test_download_exact_no_found_banner(spark, tree, tmp_path, monkeypatch,
                                        capsys):
    """Exact match is a point lookup — the reference prints no '{n} files
    found' banner on that branch, only the per-file success line."""
    monkeypatch.chdir(tmp_path)
    download_files(
        spark, _uri(tree),
        source_folder_name="data", source_file_name="a.csv",
        source_file_name_match_type="exact_match",
        destination_folder_name="out",
    )
    out = capsys.readouterr().out
    assert "files found" not in out
    assert "successfully downloaded to out/a.csv" in out


def test_upload_regex_progress_lines(spark, tree, tmp_path, monkeypatch,
                                     capsys):
    src = tmp_path / "up"
    src.mkdir()
    (src / "x1.csv").write_text("1")
    (src / "x2.csv").write_text("2")
    monkeypatch.chdir(src)
    upload_files(
        spark, _uri(tree),
        source_file_name=r"x\d\.csv",
        source_file_name_match_type="regex_match",
        destination_folder_name="in",
    )
    out = capsys.readouterr().out
    assert "2 files found. Preparing to upload..." in out
    assert "Uploading file 1 of 2" in out
    assert "successfully uploaded to" in out


def test_move_regex_progress_lines(spark, tree, tmp_path, capsys):
    (tmp_path / "dst").mkdir()
    move_files(
        spark, _uri(tree), _uri(tmp_path / "dst"),
        source_file_name=r"a\.csv",
        source_file_name_match_type="regex_match",
        destination_file_name="m.csv",
    )
    out = capsys.readouterr().out
    assert "2 files found. Preparing to move..." in out
    assert "moving file 1 of 2" in out  # 1-based, lowercase (move quirk)
    assert "File moved from data/a.csv to m_1.csv" in out


def test_remove_regex_progress_lines(spark, tree, capsys):
    remove_files(
        spark, _uri(tree),
        source_file_name=r"b_1\.txt",
        source_file_name_match_type="regex_match",
    )
    out = capsys.readouterr().out
    assert "1 files found. Preparing to delete..." in out
    assert "deleting file 1 of 1" in out
    assert "delete ran successfully" in out


def test_delete_failure_raises_205(spark, tree):
    """fs.delete returning False (e.g. path already gone) must raise, not
    silently report success — blob.delete() parity."""
    client = FsClient(spark, _uri(tree))
    with pytest.raises(FileNotFoundBlueprintError) as exc:
        client.delete("data/never-existed.bin")
    assert exc.value.exit_code == 205


def test_parallel_upload_shares_one_new_folder(spark, tmp_path, monkeypatch):
    """Concurrent copies of one call share its set of checked folders:
    every object lands, in a folder none of them found existing."""
    import sys

    src = tmp_path / "src"
    src.mkdir()
    for i in range(24):
        (src / f"f{i:02d}.bin").write_text(f"payload {i}")
    bucket = tmp_path / "bucket"
    bucket.mkdir()
    monkeypatch.chdir(tmp_path)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = upload_files(
            spark, _uri(bucket),
            source_folder_name="src", source_file_name=r"\.bin$",
            source_file_name_match_type="regex_match",
            destination_folder_name="new/deep", max_workers=8,
        )
    finally:
        sys.setswitchinterval(interval)
    assert out == [f"new/deep/f{i:02d}.bin" for i in range(24)]
    for i in range(24):
        assert (bucket / "new" / "deep" / f"f{i:02d}.bin").read_text() == (
            f"payload {i}")


def test_parallel_download_matches_sequential(spark, tree, tmp_path,
                                              monkeypatch):
    """max_workers>1 must produce byte-identical results and the same
    enumeration as the sequential (reference-parity) path."""
    seq_dir = tmp_path / "seq"
    par_dir = tmp_path / "par"
    for d, workers in ((seq_dir, 1), (par_dir, 4)):
        d.mkdir()
        monkeypatch.chdir(d)
        out = download_files(
            spark, _uri(tree),
            source_file_name=r"\.",
            source_file_name_match_type="regex_match",
            destination_file_name=None,
            max_workers=workers,
        )
        assert len(out) == 4
    seq_files = sorted(p.name for p in seq_dir.iterdir())
    par_files = sorted(p.name for p in par_dir.iterdir())
    assert seq_files == par_files
    for name in seq_files:
        assert (seq_dir / name).read_bytes() == (par_dir / name).read_bytes()


def test_parallel_download_emits_same_lines_as_sequential(
    spark, tree, tmp_path, monkeypatch, capsys
):
    """Round-3 verdict defect #5: progress lines printed at enumeration
    time and colliding destinations deduped to the last thunk made the
    parallel path's output diverge from the sequential reference-parity
    output.  Both modes must now emit the SAME per-file lines (thread
    interleaving may reorder them) and write every match, last one
    winning per destination."""
    outputs = {}
    for mode, workers in (("seq", 1), ("par", 4)):
        d = tmp_path / mode
        d.mkdir()
        monkeypatch.chdir(d)
        capsys.readouterr()  # drain
        download_files(
            spark, _uri(tree),
            source_file_name=r"a\.csv",
            source_file_name_match_type="regex_match",
            destination_file_name=None,  # keep basenames -> collision
            max_workers=workers,
        )
        outputs[mode] = capsys.readouterr().out.strip().splitlines()
    assert sorted(outputs["seq"]) == sorted(outputs["par"])
    # both matches' progress lines are present despite the collision
    assert "Downloading file 1 of 2" in outputs["par"]
    assert "Downloading file 2 of 2" in outputs["par"]
    # last match (data/sub/a.csv, content a3) wins in both modes
    assert (tmp_path / "seq" / "a.csv").read_text() == "a3"
    assert (tmp_path / "par" / "a.csv").read_text() == "a3"
