"""Content operators (mime sniff, archive expansion + frontier re-entry) and
the pluck-n result cursor."""

from __future__ import annotations

import gzip
import io
import tarfile
import zipfile

from pyspark.sql import functions as F

from crawler_service_spark.functions.urls import canonicalize_url_col, host_col, path_col, url_hash_col
from crawler_service_spark.operators.content import (
    archive_children_as_candidates,
    expand_archives,
    sniff_mime_col,
)
from crawler_service_spark.operators.dedup import dedup_new_urls
from crawler_service_spark.operators.politeness import robots_filter
from crawler_service_spark.sources import fetch_extraction_jobs
from crawler_service_spark.storage import ManifestCatalog


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def _targz_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_sniff_mime_magic_bytes(spark):
    rows = [
        ("gz", gzip.compress(b"x")),
        ("zip", _zip_bytes({"a": b"1"})),
        ("png", bytes.fromhex("89504E470D0A1A0A") + b"rest"),
        ("pdf", b"%PDF-1.7 etc"),
        ("html", b"<!DOCTYPE html><p>x</p>"),
        ("txt", b"plain old text"),
        ("empty", b""),
    ]
    df = spark.createDataFrame(rows, "name string, payload binary")
    got = {r["name"]: r["mime"] for r in df.select("name", sniff_mime_col("payload").alias("mime")).collect()}
    assert got == {
        "gz": "application/gzip",
        "zip": "application/zip",
        "png": "image/png",
        "pdf": "application/pdf",
        "html": "text/html",
        "txt": "application/octet-stream",
        "empty": "application/octet-stream",
    }


def test_expand_archives_bz2_xz_and_unsupported_dead_letter(spark):
    """bz2/xz members are byte-exact (bare stream and tar.<codec>); 7z and
    legacy .Z payloads route to the dead-letter path with reason
    'unsupported_archive' instead of silently yielding nothing (VERDICT r2 #4;
    ref fixtures list junk.7z / SEP94L.Z at .MISSING_LARGE_BLOBS)."""
    import bz2 as bz2mod
    import lzma

    from crawler_service_spark.operators.content import archive_dead_letters

    tmembers = {"d/e.txt": b"epsilon" * 50}

    def tar_codec(mode):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode=mode) as tf:
            for name, data in tmembers.items():
                info = tarfile.TarInfo(name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        return buf.getvalue()

    rows = [
        ("https://x.com/a.txt.bz2", bz2mod.compress(b"bz2 body")),
        ("https://x.com/b.txt.xz", lzma.compress(b"xz body")),
        ("https://x.com/t.tar.bz2", tar_codec("w:bz2")),
        ("https://x.com/t.tar.xz", tar_codec("w:xz")),
        ("https://x.com/junk.7z", bytes.fromhex("377ABCAF271C") + b"sevenz"),
        ("https://x.com/SEP94L.Z", b"\x1f\x9d\x90LZW-compress-data"),
        ("https://x.com/fine.gz", gzip.compress(b"still fine")),
    ]
    archives = spark.createDataFrame(rows, "url string, payload binary")
    got = {
        (r["parent_url"], r["member_name"]): bytes(r["member_bytes"])
        for r in expand_archives(archives).collect()
    }
    assert got[("https://x.com/a.txt.bz2", "a.txt")] == b"bz2 body"
    assert got[("https://x.com/b.txt.xz", "b.txt")] == b"xz body"
    assert got[("https://x.com/t.tar.bz2", "d/e.txt")] == tmembers["d/e.txt"]
    assert got[("https://x.com/t.tar.xz", "d/e.txt")] == tmembers["d/e.txt"]
    parents = {p for p, _ in got}
    assert "https://x.com/junk.7z" not in parents
    assert "https://x.com/SEP94L.Z" not in parents

    dead = {
        (r["url"], r["reason"]) for r in archive_dead_letters(archives).collect()
    }
    assert dead == {
        ("https://x.com/junk.7z", "unsupported_archive"),
        ("https://x.com/SEP94L.Z", "unsupported_archive"),
    }


def test_expand_archives_byte_exact_and_reenters_frontier(spark):
    """gzip/zip/tar.gz members come out byte-identical, and the child rows run
    through the same canonicalize -> robots -> dedup path outlinks take,
    landing in the frontier (ref: legacy/posix_crawler.py:114-147)."""
    zmembers = {"inner/a.txt": b"alpha contents", "b.csv": b"1,2,3\n"}
    tmembers = {"deep/c.txt": b"gamma" * 100}
    gz_payload = gzip.compress(b"single member body")
    rows = [
        ("https://x.com/data.zip", _zip_bytes(zmembers)),
        ("https://x.com/bundle.tar.gz", _targz_bytes(tmembers)),
        ("https://x.com/notes.txt.gz", gz_payload),
        ("https://x.com/plain.txt", b"not an archive"),
        ("https://x.com/corrupt.zip", b"PK\x03\x04garbage"),
    ]
    archives = spark.createDataFrame(rows, "url string, payload binary")
    out = expand_archives(archives).collect()
    got = {(r["parent_url"], r["member_name"]): bytes(r["member_bytes"]) for r in out}
    assert got[("https://x.com/data.zip", "inner/a.txt")] == zmembers["inner/a.txt"]
    assert got[("https://x.com/data.zip", "b.csv")] == zmembers["b.csv"]
    assert got[("https://x.com/bundle.tar.gz", "deep/c.txt")] == tmembers["deep/c.txt"]
    assert got[("https://x.com/notes.txt.gz", "notes.txt")] == b"single member body"
    parents = {r["parent_url"] for r in out}
    assert "https://x.com/plain.txt" not in parents  # non-archive: no children
    assert "https://x.com/corrupt.zip" not in parents  # corrupt: dead-letter path

    # --- frontier re-entry: children -> candidates -> robots -> seen-dedup
    expanded = expand_archives(archives)
    cand = archive_children_as_candidates(expanded).select(
        canonicalize_url_col("url").alias("url")
    )
    cand = (
        cand.withColumn("host", host_col("url"))
        .withColumn("path", path_col("url"))
        .withColumn("url_hash", url_hash_col("url"))
    )
    robots = spark.createDataFrame(
        [("x.com", "", True, 1.0), ("x.com", "/data.zip!/inner", False, 1.0)],
        "host string, path_prefix string, allow boolean, crawl_delay_s double",
    )
    cand = robots_filter(cand, robots)
    seen = spark.createDataFrame(
        [("https://x.com/data.zip!/b.csv",)], "url string"
    ).select(url_hash_col("url").alias("url_hash"), "url")
    new = dedup_new_urls(cand, seen)
    urls = sorted(r["url"] for r in new.select("url").collect())
    # inner/a.txt blocked by robots, b.csv already seen -> two genuinely new
    assert urls == [
        "https://x.com/bundle.tar.gz!/deep/c.txt",
        "https://x.com/notes.txt.gz!/notes.txt",
    ]


def test_fetch_extraction_jobs_pluck_semantics(spark, tmp_path):
    """Mirrors the reference's fetch_crawl_mdata pluck-n contract
    (application.py:248-274): batches of n in family_seq order, advancing
    cursor, queue_empty on drain, replayable from any cursor."""
    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    jobs = spark.createDataFrame(
        [("c1", f"fam-{i:03d}", i * 10, '{"x":%d}' % i) for i in range(7)]
        + [("other", "fam-x", 5, "{}")],
        "crawl_id string, family_id string, family_seq long, payload_json string",
    )
    cat.commit("extraction_jobs", jobs, "jobs-test")

    rows, cur, empty = fetch_extraction_jobs(cat, "c1", n=3)
    assert [r["family_id"] for r in rows] == ["fam-000", "fam-001", "fam-002"]
    assert cur == 20 and not empty

    rows, cur, empty = fetch_extraction_jobs(cat, "c1", after_family_seq=cur, n=3)
    assert [r["family_seq"] for r in rows] == [30, 40, 50]
    assert not empty

    rows, cur, empty = fetch_extraction_jobs(cat, "c1", after_family_seq=cur, n=3)
    assert [r["family_seq"] for r in rows] == [60]
    assert cur == 60 and empty

    rows, cur2, empty = fetch_extraction_jobs(cat, "c1", after_family_seq=cur, n=3)
    assert rows == [] and cur2 == 60 and empty

    # replay from scratch is free (non-destructive queue)
    rows, _, _ = fetch_extraction_jobs(cat, "c1", n=100)
    assert len(rows) == 7

    # unknown crawl / empty table
    rows, _, empty = fetch_extraction_jobs(cat, "nope", n=3)
    assert rows == [] and empty
    empty_cat = ManifestCatalog(str(tmp_path / "wd2"), spark)
    rows, _, empty = fetch_extraction_jobs(empty_cat, "c1")
    assert rows == [] and empty


def test_connector_listing_adapters_drive_and_box(spark):
    """S4/S5 offline shapes: public-API-shaped listing rows normalize to the
    frontier-candidate schema and split dirs-to-frontier / files-to-extract
    like the reference's queue re-entry (crawlers/box.py:27-43,
    tests/drive_tester.py:15-17)."""
    from crawler_service_spark.sources import (
        box_listing_to_candidates,
        drive_listing_to_candidates,
        split_frontier_and_files,
    )

    drive = spark.createDataFrame(
        [
            ("f1", "report.pdf", "application/pdf", "root", 1024),
            ("d1", "subdir", "application/vnd.google-apps.folder", "root", None),
        ],
        "id string, name string, mimeType string, parent_id string, size long",
    )
    cand = drive_listing_to_candidates(drive)
    rows = {r["name"]: r for r in cand.collect()}
    assert rows["report.pdf"]["url"] == "https://drive.google.com/file/d/f1"
    assert not rows["report.pdf"]["is_dir"] and rows["report.pdf"]["size"] == 1024
    assert rows["subdir"]["is_dir"] and rows["subdir"]["size"] == 0
    assert rows["subdir"]["parent_url"].endswith("/folders/root")
    dirs, files = split_frontier_and_files(cand)
    assert dirs.count() == 1 and files.count() == 1

    box = spark.createDataFrame(
        [
            ("file", "99", "data.csv", "112657269903", 2048),
            ("folder", "77", "covid", "112657269903", None),
        ],
        "type string, id string, name string, parent_folder_id string, size long",
    )
    bc = {r["name"]: r for r in box_listing_to_candidates(box).collect()}
    assert bc["data.csv"]["url"] == "https://app.box.com/file/99"
    assert bc["covid"]["url"] == "https://app.box.com/folder/77" and bc["covid"]["is_dir"]
