"""Fast-lane CLI smoke tests: one round trip through every file verb, the
reference's exit codes (200/201/205) and the ``validate`` exit codes.  The
rest of the CLI surface is in ``test_cli.py``, which runs under ``-m ""``."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.errors import InvalidCredentialsError
from googlecloudstorage_blueprints_spark.fileops import cli
from googlecloudstorage_blueprints_spark.fileops.cli import main


def test_cli_round_trip_upload_download_move_remove(spark, tmp_path,
                                                    monkeypatch, capsys):
    (tmp_path / "up").mkdir()
    for name in ("a.csv", "b.csv", "c.txt"):
        (tmp_path / "up" / name).write_text(f"payload:{name}")
    bucket = tmp_path / "bucket"
    bucket.mkdir()
    uri = f"file:{bucket}"
    monkeypatch.chdir(tmp_path)

    assert main(["upload", "--bucket-name", uri,
                 "--source-folder-name", "up",
                 "--source-file-name", r"\.csv$",
                 "--source-file-name-match-type", "regex_match",
                 "--destination-folder-name", "land"]) == 0
    out = capsys.readouterr().out
    assert "2 files found. Preparing to upload..." in out
    assert "2 files processed." in out
    assert sorted(p.name for p in (bucket / "land").iterdir()
                  if not p.name.endswith(".crc")) == ["a.csv", "b.csv"]

    assert main(["download", "--bucket-name", uri,
                 "--source-folder-name", "land",
                 "--source-file-name", r"\.csv$",
                 "--source-file-name-match-type", "regex_match",
                 "--destination-folder-name", "down",
                 "--destination-file-name", "got.csv"]) == 0
    out = capsys.readouterr().out
    assert "Downloading file 2 of 2" in out
    assert (tmp_path / "down" / "got_1.csv").read_text() == "payload:a.csv"
    assert (tmp_path / "down" / "got_2.csv").read_text() == "payload:b.csv"

    assert main(["move", "--source-bucket-name", uri,
                 "--destination-bucket-name", uri,
                 "--source-folder-name", "land",
                 "--source-file-name", r"\.csv$",
                 "--source-file-name-match-type", "regex_match",
                 "--destination-folder-name", "done/csv"]) == 0
    out = capsys.readouterr().out
    # no destination name: each match keeps its basename
    assert "File moved from land/a.csv to done/csv/a.csv" in out
    assert (bucket / "done" / "csv" / "b.csv").read_text() == "payload:b.csv"
    assert not (bucket / "land" / "a.csv").exists()

    assert main(["remove", "--bucket-name", uri,
                 "--source-folder-name", "done",
                 "--source-file-name", ".",
                 "--source-file-name-match-type", "regex_match"]) == 0
    out = capsys.readouterr().out
    assert "deleting file 2 of 2" in out
    assert "2 files processed." in out
    assert not [p for p in (bucket / "done" / "csv").iterdir()
                if not p.name.endswith(".crc")]


def test_cli_missing_object_exits_205(spark, tmp_path, capsys):
    (tmp_path / "bucket").mkdir()
    rc = main(["remove", "--bucket-name", f"file:{tmp_path}/bucket",
               "--source-file-name", "missing.csv"])
    assert rc == 205
    assert "error (205)" in capsys.readouterr().err


def test_cli_missing_bucket_exits_201(spark, tmp_path, capsys):
    rc = main(["download", "--bucket-name", f"file:{tmp_path}/no_bucket",
               "--source-file-name", "x"])
    assert rc == 201
    assert "error (201)" in capsys.readouterr().err


def test_cli_credentials_failure_exits_200(spark, monkeypatch, capsys):
    """A credential failure inside any verb leaves the CLI with the
    reference's code 200 and an error line, not a traceback."""
    def refuse(*_args, **_kwargs):
        raise InvalidCredentialsError("key file rejected")

    monkeypatch.setattr(cli, "upload_files", refuse)
    rc = main(["upload", "--bucket-name", "file:/unused",
               "--source-file-name", "x"])
    assert rc == 200
    assert "error (200): key file rejected" in capsys.readouterr().err


def test_cli_validate_exit_codes(spark, sf_dir, tmp_path, capsys):
    """``validate``: identical copies exit 0, one flipped ``region.r_name``
    cell exits 205 naming the table (and, under ``--by-column``, the
    column), an unknown table exits 2."""
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        d.mkdir()
        for t in ("region", "nation"):
            shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")

    def validate(tables, *flags):
        return main(["validate", "--source-dir", str(a),
                     "--dest-dir", str(b), "--tables", tables, *flags])

    assert validate("region,nation") == 0
    assert "validate: 2 table(s) match" in capsys.readouterr().out

    region = pq.read_table(a / "region.parquet")
    names = region.column("r_name").to_pylist()
    names[0] += "-corrupted"
    pq.write_table(region.set_column(
        region.schema.get_field_index("r_name"), "r_name",
        pa.array(names, pa.string())), b / "region.parquet")
    assert validate("region,nation") == 205
    captured = capsys.readouterr()
    assert "FAIL region:" in captured.out
    assert "OK   nation:" in captured.out
    assert "validate: content mismatch" in captured.err
    assert validate("region,nation", "--by-column") == 205
    captured = capsys.readouterr()
    assert "FAIL region.r_name:" in captured.out
    assert "OK   region.r_regionkey:" in captured.out
    assert "validate: content mismatch" in captured.err

    assert validate("nope") == 2
    assert "unknown table(s) ['nope']" in capsys.readouterr().err
