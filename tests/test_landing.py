"""Landing connector (sources/landing.py): poll/dedup/compress/sidecar
logic, pagination fix, the Drive adapter against a fake service, the
published-file rule (a partial download is never visible), and the whole
loan chain: two landings into one directory read by run_etl,
run_etl_incremental and a restarted stream_etl.
"""

from __future__ import annotations

import gzip
import json
import os

import pytest

from loan_etl_data_pipeline_spark.sources.csv import discover_input_files
from loan_etl_data_pipeline_spark.sources.landing import (
    GoogleDriveClient,
    LocalDirClient,
    land_new_files,
    list_all_files,
)


def _write(p, text):
    with open(p, "w") as f:
        f.write(text)


def test_land_new_files_once_only(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    _write(src / "loans.csv", "loan_id,amount\n1,100\n2,200\n")
    _write(src / "notes.txt", "hello")

    client = LocalDirClient(str(src))
    metas = land_new_files(client, str(dst))
    assert sorted(m["name"] for m in metas) == ["loans.csv", "notes.txt"]
    by_name = {m["name"]: m for m in metas}
    assert by_name["loans.csv"]["rows"] == 2  # header excluded
    assert by_name["notes.txt"]["rows"] is None
    gz = by_name["loans.csv"]["compressed_path"]
    with gzip.open(gz, "rt") as f:
        assert f.read().startswith("loan_id")
    with open(dst / "latest_meta.json") as f:
        assert len(json.load(f)) == 2

    # second poll: nothing new
    assert land_new_files(client, str(dst)) == []

    # modified file counts as new (fresh identity), lands again
    _write(src / "loans.csv", "loan_id,amount\n1,100\n2,200\n3,300\n")
    metas = land_new_files(client, str(dst))
    assert [m["name"] for m in metas] == ["loans.csv"]
    assert metas[0]["rows"] == 3


def test_failed_fetch_is_retried(tmp_path):
    """Seen-state commits only after a successful landing (fixes the
    reference's sensor-side commit, google_drive_sensor.py:44-46)."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    _write(src / "a.csv", "x\n1\n")

    class Flaky(LocalDirClient):
        calls = 0

        def fetch(self, file_id, dest_path):
            Flaky.calls += 1
            if Flaky.calls == 1:
                raise OSError("transient")
            return super().fetch(file_id, dest_path)

    client = Flaky(str(src))
    try:
        land_new_files(client, str(dst))
    except OSError:
        pass
    metas = land_new_files(client, str(dst))  # retried, not lost
    assert [m["name"] for m in metas] == ["a.csv"]


def test_pagination_crosses_pages(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(7):
        _write(src / f"f{i}.csv", "x\n1\n")
    client = LocalDirClient(str(src), page_size=3)
    assert len(list_all_files(client)) == 7  # 3 pages walked


class _FakeDriveService:
    """Shape-compatible stand-in for googleapiclient's Drive v3 service:
    two list pages (exercising the pageToken threading the reference
    lacks, gdrive_utils.py:17-22) and byte-returning get_media."""

    PAGES = {
        None: {
            "files": [{"id": "id1", "name": "a.csv", "mimeType": "text/csv", "size": 8}],
            "nextPageToken": "p2",
        },
        "p2": {"files": [{"id": "id2", "name": "b.csv", "mimeType": "text/csv", "size": 8}]},
    }
    CONTENT = {"id1": b"x\n1\n", "id2": b"x\n2\n"}

    class _Call:
        def __init__(self, result):
            self._result = result

        def execute(self):
            return self._result

    class _Files:
        def list(self, q=None, fields=None, pageToken=None):
            assert "in parents and trashed=false" in q
            return _FakeDriveService._Call(_FakeDriveService.PAGES[pageToken])

        def get_media(self, fileId=None):
            return _FakeDriveService._Call(_FakeDriveService.CONTENT[fileId])

    def files(self):
        return self._Files()


def test_google_drive_client_with_fake_service(tmp_path):
    client = GoogleDriveClient(_FakeDriveService(), folder_id="folder123")
    metas = land_new_files(client, str(tmp_path / "dst"))
    assert sorted(m["file_id"] for m in metas) == ["id1", "id2"]  # both pages
    assert all(m["rows"] == 1 for m in metas)


@pytest.mark.parametrize("name", ["a.csv", "a.csv.gz"])
def test_partial_fetch_is_never_visible(spark, tmp_path, name):
    """A fetch that writes half a file and then fails leaves nothing a
    reader can see; the next poll lands the file."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    text = b"loan_id\n1\n2\n"
    (src / name).write_bytes(gzip.compress(text) if name.endswith(".gz") else text)

    class HalfThenFail(LocalDirClient):
        failed = False

        def fetch(self, file_id, dest_path):
            if not self.failed:
                self.failed = True
                data = (src / name).read_bytes()
                with open(dest_path, "wb") as f:
                    f.write(data[: len(data) // 2])
                raise OSError("connection reset")
            return super().fetch(file_id, dest_path)

    client = HalfThenFail(str(src))
    with pytest.raises(OSError):
        land_new_files(client, str(dst))
    assert discover_input_files(str(dst)) == []
    assert spark.read.schema("loan_id long").csv(str(dst)).count() == 0

    assert [m["name"] for m in land_new_files(client, str(dst))] == [name]
    (published,) = discover_input_files(str(dst))
    assert os.path.basename(published) == "a.csv.gz"
    with gzip.open(published, "rb") as f:
        assert f.read() == text


_LOAN_SCHEMA = "loan_id long, timestamp string, loan_amount double, loan_type string"


def _day_csv(first_id: int, day: int) -> str:
    rows = [
        f"{first_id + i},2024-03-{day:02d} 0{i}:00:00,{100.0 * (i + 1)},"
        + ("auto" if i % 2 else "")
        for i in range(5)
    ]
    return "loan_id,timestamp,loan_amount,loan_type\n" + "\n".join(rows) + "\n"


def test_landed_chain_reads_each_row_once(spark, tmp_path):
    """Two landings into one directory, then the batch, incremental and
    streaming readers over that directory: every landed row is read
    exactly once (no raw copy, gzip copy or sidecar read twice)."""
    from pyspark.sql.types import _parse_datatype_string

    from loan_etl_data_pipeline_spark.plans.etl import run_etl, run_etl_incremental
    from loan_etl_data_pipeline_spark.streaming.ingest import stream_etl

    schema = _parse_datatype_string(_LOAN_SCHEMA)
    src, landing = tmp_path / "src", str(tmp_path / "landing")
    src.mkdir()
    client = LocalDirClient(str(src))

    def stream():
        q = stream_etl(spark, landing, str(tmp_path / "stream"),
                       str(tmp_path / "ckpt"), schema=schema, available_now=True)
        q.awaitTermination(120)
        assert not q.isActive
        return spark.read.parquet(str(tmp_path / "stream"))

    def rows_and_ids(df):
        return df.count(), df.select("loan_id").distinct().count()

    _write(src / "day1.csv", _day_csv(1, 1))
    assert len(land_new_files(client, landing)) == 1
    assert rows_and_ids(stream()) == (5, 5)

    _write(src / "day2.csv", _day_csv(6, 2))
    assert [m["name"] for m in land_new_files(client, landing)] == ["day2.csv"]
    assert rows_and_ids(stream()) == (10, 10)

    batch, inc = str(tmp_path / "batch"), str(tmp_path / "inc")
    assert run_etl(spark, landing, batch)["total_loans"] == 10
    assert rows_and_ids(spark.read.parquet(batch)) == (10, 10)
    assert run_etl_incremental(spark, landing, inc, schema=schema)["total_loans"] == 10
    assert rows_and_ids(spark.read.parquet(inc)) == (10, 10)
