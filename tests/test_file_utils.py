"""File utility tests (reference parity: test/file/, test/archive/)."""

import pathlib
import zipfile

import pytest

from parq_tools_spark.sources.file_utils import (
    atomic_file_copy,
    atomic_output_file,
    extract_archive,
    fast_file_check,
    file_hash,
    files_match,
)


def test_file_hash_stable(tmp_path):
    p = tmp_path / "f.bin"
    p.write_bytes(b"hello world")
    assert file_hash(p) == file_hash(p)
    assert file_hash(p, "md5") != file_hash(p, "sha256")


def test_files_match(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    a.write_bytes(b"same content")
    b.write_bytes(b"same content")
    c.write_bytes(b"diff content")
    assert files_match(a, b)
    assert not files_match(a, c)
    assert fast_file_check(a, b)
    assert not fast_file_check(a, c)


def test_atomic_output_file_cleans_up_on_error(tmp_path):
    target = tmp_path / "out.txt"
    with pytest.raises(RuntimeError):
        with atomic_output_file(target) as tmp:
            tmp.write_text("partial")
            raise RuntimeError("boom")
    assert not target.exists()
    assert not tmp.exists()


def test_atomic_file_copy_and_skip(tmp_path):
    src = tmp_path / "src.bin"
    src.write_bytes(b"payload" * 1000)
    dst = atomic_file_copy(src, tmp_path / "dst.bin")
    assert files_match(src, dst)
    # second copy is a no-op (skip-if-identical)
    before = dst.stat().st_mtime_ns
    atomic_file_copy(src, dst)
    assert dst.stat().st_mtime_ns == before


def test_extract_archive(tmp_path):
    z = tmp_path / "a.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("inner/data.txt", "contents")
    out = extract_archive(z, tmp_path / "extracted")
    assert (out / "inner" / "data.txt").read_text() == "contents"


def test_extract_archive_rejects_non_zip(tmp_path):
    p = tmp_path / "not.zip"
    p.write_text("nope")
    with pytest.raises(ValueError, match="zip"):
        extract_archive(p, tmp_path / "out")


def test_extract_archive_names_7z_divergence(tmp_path, monkeypatch):
    from parq_tools_spark.sources.file_utils import extract_archive

    # force the no-7z environment regardless of host PATH / site-packages
    import shutil as shutil_mod

    monkeypatch.setattr(shutil_mod, "which", lambda name: None)
    import sys

    monkeypatch.setitem(sys.modules, "py7zr", None)
    notzip = tmp_path / "a.7z"
    notzip.write_bytes(b"7z\xbc\xaf\x27\x1c fake")
    with pytest.raises(ValueError, match="7-Zip"):
        extract_archive(notzip, tmp_path / "out")


def test_extract_archive_uses_py7zr_when_available(tmp_path, monkeypatch):
    """With a py7zr module importable, non-zip/tar archives extract
    through it (atomic output dir), closing the reference's 7-Zip
    fallback path without requiring the binary."""
    import sys
    import types

    from parq_tools_spark.sources.file_utils import extract_archive

    extracted_to = {}

    class FakeSevenZipFile:
        def __init__(self, path):
            self.path = path

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def getnames(self):
            return ["payload.txt"]

        def extractall(self, dest):
            extracted_to["dest"] = str(dest)
            (pathlib.Path(dest) / "payload.txt").write_text("from-7z")

    fake = types.ModuleType("py7zr")
    fake.is_7zfile = lambda p: True
    fake.SevenZipFile = FakeSevenZipFile
    monkeypatch.setitem(sys.modules, "py7zr", fake)

    arch = tmp_path / "a.7z"
    arch.write_bytes(b"7z\xbc\xaf\x27\x1c payload")
    out = extract_archive(arch, tmp_path / "out")
    assert (out / "payload.txt").read_text() == "from-7z"
    # extraction happened into the atomic temp dir, not the final path
    assert extracted_to["dest"] != str(out)


def test_extract_tar_archive(tmp_path):
    import tarfile

    from parq_tools_spark.sources.file_utils import extract_archive

    src = tmp_path / "payload"
    src.mkdir()
    (src / "a.txt").write_text("hello")
    (src / "sub").mkdir()
    (src / "sub" / "b.txt").write_text("world")
    tar = tmp_path / "arch.tar.gz"
    with tarfile.open(tar, "w:gz") as tf:
        tf.add(src / "a.txt", arcname="a.txt")
        tf.add(src / "sub" / "b.txt", arcname="sub/b.txt")
    out = extract_archive(tar, tmp_path / "out")
    assert (out / "a.txt").read_text() == "hello"
    assert (out / "sub" / "b.txt").read_text() == "world"


def test_write_parquet_sort_by_enables_row_group_skipping(spark, tmp_path):
    """sort_by clusters the layout: each output file's min/max footer
    range on the sort column is narrow and files are mutually disjoint,
    so pushed filters can skip whole row groups."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from parq_tools_spark.sources.parquet_io import write_parquet

    df = spark.range(0, 100_000).withColumn(
        "v", (F.col("id") * 2654435761) % 1000003  # scrambled order
    )
    out = str(tmp_path / "clustered")
    write_parquet(df.repartition(8), out, sort_by=["v"], sort_partitions=8)

    ranges = []
    for f in glob.glob(out + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)
            assert col.path_in_schema == "v"
            ranges.append((col.statistics.min, col.statistics.max))
    assert len(ranges) >= 2
    ranges.sort()
    # disjoint (clustered) ranges: each row group covers a narrow slice
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_extract_archive_7z_rejects_path_traversal(tmp_path, monkeypatch):
    """Entries escaping the output dir (.. or absolute) must be refused
    BEFORE any extraction happens."""
    import sys
    import types

    from parq_tools_spark.sources.file_utils import extract_archive

    class EvilSevenZipFile:
        def __init__(self, path):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def getnames(self):
            return ["ok.txt", "../../escape.txt"]

        def extractall(self, dest):
            raise AssertionError("must not extract a traversing archive")

    fake = types.ModuleType("py7zr")
    fake.is_7zfile = lambda p: True
    fake.SevenZipFile = EvilSevenZipFile
    monkeypatch.setitem(sys.modules, "py7zr", fake)

    arch = tmp_path / "evil.7z"
    arch.write_bytes(b"7z\xbc\xaf\x27\x1c evil")
    with pytest.raises(ValueError, match="escapes"):
        extract_archive(arch, tmp_path / "out")


def _fake_py7zr(monkeypatch, seven_zip_cls):
    import sys
    import types

    fake = types.ModuleType("py7zr")
    fake.is_7zfile = lambda p: True
    fake.SevenZipFile = seven_zip_cls
    monkeypatch.setitem(sys.modules, "py7zr", fake)


def test_extract_archive_7z_rejects_symlink_in_listing(tmp_path, monkeypatch):
    """A listing entry whose 7z unix attributes mark a symlink must be
    refused BEFORE extraction — by extraction time a link could already
    have redirected writes outside the output dir."""
    from parq_tools_spark.sources.file_utils import extract_archive

    class Info:
        def __init__(self, filename, attributes):
            self.filename = filename
            self.attributes = attributes

    class LinkySevenZipFile:
        def __init__(self, path):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def getnames(self):
            return ["link"]

        def list(self):
            # FILE_ATTRIBUTE_UNIX_EXTENSION | (S_IFLNK|0o777) << 16
            return [Info("link", 0x8000 | (0o120777 << 16))]

        def extractall(self, dest):
            raise AssertionError("must not extract an archive with symlinks")

    _fake_py7zr(monkeypatch, LinkySevenZipFile)
    arch = tmp_path / "linky.7z"
    arch.write_bytes(b"7z\xbc\xaf\x27\x1c link")
    with pytest.raises(ValueError, match="symlink"):
        extract_archive(arch, tmp_path / "out")


def test_extract_archive_7z_rejects_outward_symlink_on_disk(
    tmp_path, monkeypatch
):
    """Even when the listing hides link attributes, an extracted
    symlink resolving outside the tmp dir must abort the atomic commit:
    nothing reaches the final path."""
    import os

    from parq_tools_spark.sources.file_utils import extract_archive

    outside = tmp_path / "victim.txt"
    outside.write_text("precious")

    class SneakySevenZipFile:
        def __init__(self, path):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def getnames(self):
            return ["innocent.txt", "sneaky"]

        def extractall(self, dest):
            (pathlib.Path(dest) / "innocent.txt").write_text("hi")
            os.symlink(outside, pathlib.Path(dest) / "sneaky")

    _fake_py7zr(monkeypatch, SneakySevenZipFile)
    arch = tmp_path / "sneaky.7z"
    arch.write_bytes(b"7z\xbc\xaf\x27\x1c sneaky")
    out_dir = tmp_path / "out"
    with pytest.raises(ValueError, match="outside the output directory"):
        extract_archive(arch, out_dir)
    assert not out_dir.exists()  # atomic: rejection discards the tmp dir


def test_extract_archive_7z_allows_inward_symlink(tmp_path, monkeypatch):
    """Relative symlinks staying inside the archive are legitimate
    (dedup-by-link layouts) and must survive extraction."""
    import os

    from parq_tools_spark.sources.file_utils import extract_archive

    class InwardSevenZipFile:
        def __init__(self, path):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def getnames(self):
            return ["real.txt", "alias"]

        def extractall(self, dest):
            (pathlib.Path(dest) / "real.txt").write_text("content")
            os.symlink("real.txt", pathlib.Path(dest) / "alias")

    _fake_py7zr(monkeypatch, InwardSevenZipFile)
    arch = tmp_path / "inward.7z"
    arch.write_bytes(b"7z\xbc\xaf\x27\x1c inward")
    out = extract_archive(arch, tmp_path / "out")
    assert (out / "alias").read_text() == "content"


def test_footer_schema_nanos_as_long_nested_ns_falls_back(spark, tmp_path):
    """Under ``nanos_as_long`` only top-level TIMESTAMP(NANOS) columns
    are rewritten to LongType; a ns timestamp nested in a struct must
    fall back to inference (None) rather than resolve to a timestamp
    type the legacy conf would not produce."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from parq_tools_spark.sources.parquet_io import _footer_schema

    ns = pa.timestamp("ns")
    nested = tmp_path / "nested.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "ev": pa.array(
                    [{"ts": 1_000_000_001}, {"ts": 2_000_000_002}],
                    pa.struct([("ts", ns)]),
                ),
            }
        ),
        str(nested),
    )
    assert _footer_schema(spark, str(nested), nanos_as_long=True) is None

    flat = tmp_path / "flat.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_001], ns)}), str(flat)
    )
    schema = _footer_schema(spark, str(flat), nanos_as_long=True)
    assert schema["ts"].dataType == T.LongType()
