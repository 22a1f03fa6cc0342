"""Landing connector: watch a remote folder, land new files for the engine.

The reference's landing step is Google-Drive-specific and spread across
a sensor, a plugin, and a DAG task (reference:
airflow/plugins/google_drive_sensor.py:25-48,
airflow/plugins/gdrive_utils.py:13-33,
airflow/dags/drive_watch_dag.py:53-134). This module is the same
capability as a transport-agnostic engine component: a tiny
``LandingClient`` protocol (list / fetch / metadata) with the
poll-dedup-download-compress-sidecar pipeline implemented once on top,
so the control logic is testable without any Google dependency and a
local directory, an S3 prefix, or Drive are just different clients.

Two reference bugs are fixed, not replicated:

- **pagination**: ``gdrive_utils.py:17-22`` never passes the returned
  ``nextPageToken`` back into ``list()`` — a multi-page folder loops on
  page one forever. ``list_all_files`` threads the token properly
  (tested against a fake two-page service).
- **lost failures**: the sensor commits ids to the seen-set *before*
  download (``google_drive_sensor.py:44-46``, download in a separate
  task) — a file whose download then fails is never retried.
  ``land_new_files`` records a file as seen only after it lands.

Published-file rule: each landed remote file publishes exactly ONE
visible data file, its gzip copy ``<name>.gz`` (or the file itself when
its name already ends in ``.gz``), written under a hidden temporary
name and moved into place with ``os.replace`` so no reader ever sees a
partial file. The raw download stays hidden at ``local_path``
(``.<name>``), as does the seen-state; Spark's file index,
``sources.csv.discover_input_files`` and :class:`LocalDirClient` all
skip ``.``-prefixed names, and ``CSV_EXTENSIONS`` excludes the
``latest_meta.json`` sidecar. So the batch ETL (plans/etl.py) and the
streaming file source (streaming/ingest.py) read every landed row once;
Structured Streaming's checkpointed file log replaces the seen-set once
files are local.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
from dataclasses import dataclass
from typing import Protocol


class LandingClient(Protocol):
    """Minimal transport surface a landing source must provide."""

    def list_files(self, page_token: str | None = None) -> dict:
        """One page: ``{"files": [{"id","name","mimeType","size"}...],
        "nextPageToken": str | absent}``."""
        ...

    def fetch(self, file_id: str, dest_path: str) -> str:
        """Download one file to ``dest_path``; returns ``dest_path``."""
        ...


def list_all_files(client: LandingClient) -> list[dict]:
    """Every file in the watched folder, across ALL pages."""
    items: list[dict] = []
    token: str | None = None
    while True:
        page = client.list_files(page_token=token)
        items.extend(page.get("files", []))
        token = page.get("nextPageToken")
        if not token:
            return items


def _csv_rows(path: str) -> int | None:
    """Data-row count for the notification summary (reference
    drive_watch_dag.py:104-111 used ``len(pd.read_csv(...))``); quoted
    newlines handled, header excluded. None for non-CSV files."""
    if not path.lower().endswith(".csv"):
        return None
    import csv

    with open(path, newline="") as f:
        n = sum(1 for _ in csv.reader(f))
    return max(n - 1, 0)


def _load_seen(state_path: str) -> set[str]:
    try:
        with open(state_path) as f:
            return set(json.load(f))
    except (FileNotFoundError, json.JSONDecodeError):
        return set()


def land_new_files(
    client: LandingClient,
    landing_dir: str,
    *,
    state_path: str | None = None,
) -> list[dict]:
    """Poll once: land every not-yet-seen file into ``landing_dir``.

    Returns the metadata records (the reference's ``latest_meta.json``
    shape: file_id, name, mimeType, local_path, compressed_path,
    original_size, compressed_size, rows) and writes them as the
    ``latest_meta.json`` sidecar. ``local_path`` is the raw download
    and ``compressed_path`` the published gzip copy (None when the
    remote file was already ``.gz``: then it is published as is, at
    ``local_path``). Seen-state lives in a JSON file
    (default ``<landing_dir>/.landing_seen.json`` — the engine-side
    replacement for the Airflow Variable) and is committed only after
    each file has been published, so failures retry on the next poll.
    """
    os.makedirs(landing_dir, exist_ok=True)
    state_path = state_path or os.path.join(landing_dir, ".landing_seen.json")
    seen = _load_seen(state_path)

    metas: list[dict] = []
    for f in list_all_files(client):
        if f["id"] in seen:
            continue
        # remote names are untrusted: flatten to a basename so a name
        # containing '/' or '..' can neither escape landing_dir nor
        # abort the poll on a missing subdirectory
        safe_name = os.path.basename(f["name"].replace("\\", "/"))
        if not safe_name or safe_name in (".", ".."):
            continue
        published = safe_name if safe_name.endswith(".gz") else safe_name + ".gz"
        publish_path = os.path.join(landing_dir, published)
        tmp_path = os.path.join(landing_dir, f".{published}.tmp")
        if published == safe_name:
            client.fetch(f["id"], tmp_path)
            local_path, compressed_path = publish_path, None
        else:
            local_path = os.path.join(landing_dir, "." + safe_name)
            client.fetch(f["id"], local_path)
            with open(local_path, "rb") as src, gzip.open(tmp_path, "wb") as gz:
                shutil.copyfileobj(src, gz)
            compressed_path = publish_path
        os.replace(tmp_path, publish_path)
        metas.append(
            {
                "file_id": f["id"],
                "name": f["name"],
                "mimeType": f.get("mimeType"),
                "local_path": local_path,
                "compressed_path": compressed_path,
                "original_size": os.path.getsize(local_path),
                "compressed_size": (
                    os.path.getsize(compressed_path) if compressed_path else None
                ),
                "rows": _csv_rows(local_path),
            }
        )
        seen.add(f["id"])
        with open(state_path, "w") as fh:
            json.dump(sorted(seen), fh)

    if metas:
        with open(os.path.join(landing_dir, "latest_meta.json"), "w") as fh:
            json.dump(metas, fh, indent=2)
    return metas


@dataclass
class LocalDirClient:
    """LandingClient over a plain directory — the no-transport case.

    File identity is (name, size, mtime_ns), so an overwritten or grown
    file counts as new — matching how a re-uploaded Drive file gets a
    fresh id. Also the test double closest to production shape.
    """

    src_dir: str
    page_size: int = 100

    def _entries(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.src_dir)):
            p = os.path.join(self.src_dir, name)
            if name.startswith(".") or not os.path.isfile(p):
                continue
            st = os.stat(p)
            out.append(
                {
                    "id": f"{name}:{st.st_size}:{st.st_mtime_ns}",
                    "name": name,
                    "mimeType": None,
                    "size": st.st_size,
                }
            )
        return out

    def list_files(self, page_token: str | None = None) -> dict:
        entries = self._entries()
        start = int(page_token) if page_token else 0
        page = entries[start : start + self.page_size]
        out: dict = {"files": page}
        if start + self.page_size < len(entries):
            out["nextPageToken"] = str(start + self.page_size)
        return out

    def fetch(self, file_id: str, dest_path: str) -> str:
        name = file_id.rsplit(":", 2)[0]
        shutil.copyfile(os.path.join(self.src_dir, name), dest_path)
        return dest_path


class GoogleDriveClient:
    """LandingClient over a googleapiclient Drive v3 ``service``.

    The service object is injected (build it with
    ``googleapiclient.discovery.build("drive", "v3", ...)`` — the
    google libs are not a dependency of this engine), so the adapter
    logic is fully testable with a fake. Queries mirror the reference
    (``'<folder>' in parents and trashed=false``) with the pagination
    token actually threaded through.
    """

    def __init__(self, service, folder_id: str):
        self._svc = service
        self._q = f"'{folder_id}' in parents and trashed=false"

    def list_files(self, page_token: str | None = None) -> dict:
        return (
            self._svc.files()
            .list(
                q=self._q,
                fields="nextPageToken, files(id, name, mimeType, size)",
                pageToken=page_token,
            )
            .execute()
        )

    def fetch(self, file_id: str, dest_path: str) -> str:
        data = self._svc.files().get_media(fileId=file_id).execute()
        with open(dest_path, "wb") as f:
            f.write(data)
        return dest_path
