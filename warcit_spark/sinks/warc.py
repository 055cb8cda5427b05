"""K1/K2: WARC file export (warcit/warcit.py:409-462 re-expressed).

The reference writes one WARC file through warcio with per-record gzip
framing (each record is its own gzip member — the standard .warc.gz
layout) and a leading ``warcinfo`` manifest record.  warcio is not in this
container, so the writer below emits WARC/1.0 records directly — the
format is line-oriented headers + payload and is covered by a golden
round-trip test (tests/test_convert_warc.py parses the output back).

Distributed shape: ``df.mapInPandas`` writes one ``part-<pid>.warc.gz``
per partition (the Spark analog of K1's single sequential file), each with
its own warcinfo preamble carrying the partition id — mirroring how the
reference stamps software/format/cmdline (warcit.py:450-462).  Determinism:
callers order records with ``sortWithinPartitions`` first; file names come
from the task partition id.  The returned DataFrame is the write manifest
(path, n_records, bytes) — the sink's audit record, K3-style.

The sink refuses a non-empty ``out_dir`` (the reference's 'xb',
warcit.py:143-148).  Appending to or overwriting an existing WARC file is
the CLI's, on its single output file (cli.py).
"""

from __future__ import annotations

import base64
import gzip
import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from warcit_spark import __version__ as _VERSION

SOFTWARE = f"warcit-spark/{_VERSION}"
_NAMESPACE = uuid.uuid5(uuid.NAMESPACE_URL, "warcit-spark")


def record_id_for(record_type: str, url: str, warc_date: str) -> str:
    """The sink's deterministic WARC-Record-ID for a record — exposed so
    derived records (conversions) can compute refer-back ids plan-side."""
    rid = uuid.uuid5(_NAMESPACE, f"{record_type}:{url}:{warc_date}")
    return f"<urn:uuid:{rid}>"


_HEX40 = frozenset("0123456789abcdef")


def _digest_header(digest: str) -> str:
    """Render a payload digest the way warcio does: ``sha1:`` + base32.

    Upstream columns carry hex (``F.sha1``); warcio (reference sink,
    warcit/warcit.py:544) emits base32 of the raw SHA-1, which standard
    WARC tooling expects.  Non-40-hex values pass through untouched so
    callers may supply pre-formatted digests.
    """
    if len(digest) == 40 and set(digest) <= _HEX40:
        return "sha1:" + base64.b32encode(bytes.fromhex(digest)).decode("ascii")
    return f"sha1:{digest}"


def _record_bytes(
    record_type: str,
    headers: list[tuple[str, str]],
    payload: bytes,
) -> bytes:
    head_lines = [b"WARC/1.0\r\n", f"WARC-Type: {record_type}\r\n".encode()]
    for k, v in headers:
        if v is not None:
            head_lines.append(f"{k}: {v}\r\n".encode())
    head_lines.append(f"Content-Length: {len(payload)}\r\n".encode())
    head_lines.append(b"\r\n")
    return b"".join(head_lines) + payload + b"\r\n\r\n"


def _warcinfo_bytes(
    filename: str, partition_id: int | None, cmdline: str | None = None
) -> bytes:
    """warcinfo manifest fields: software/format like the reference's
    make_warcinfo (warcit/warcit.py:450-462, incl. its cmdline field),
    plus the partition id (this sink's multi-part analog of one file;
    ``None`` = single-file fidelity mode, no partition field — the
    reference's exact field set)."""
    fields = f"software: {SOFTWARE}\r\nformat: WARC File Format 1.0\r\n"
    if cmdline:
        fields += f"cmdline: {cmdline}\r\n"
    if partition_id is not None:
        fields += f"partition: {partition_id}\r\n"
    fields = fields.encode()
    return _record_bytes(
        "warcinfo",
        [
            ("WARC-Record-ID", record_id_for("warcinfo", filename, cmdline or "")),
            ("WARC-Filename", filename),
            ("Content-Type", "application/warc-fields"),
        ],
        fields,
    )


def write_warc_files(
    records: DataFrame,
    out_dir: str,
    gzip_records: bool = True,
    cmdline: str | None = None,
    warcinfo: bool = True,
    warcinfo_filename: str | None = None,
) -> DataFrame:
    """Write records to ``out_dir/part-<pid>.warc[.gz]``.

    ``records`` needs columns (url, record_type, warc_date, content_type,
    payload binary) and optionally payload_digest, refers_to,
    refers_to_target_uri, refers_to_target_date and json_metadata; an
    absent or NULL optional column writes no header.  The sink assigns
    every WARC-Record-ID (:func:`record_id_for`, uuid5 of type+url+date)
    so re-runs are byte-identical — the engine's reproducible-output
    stance (SURVEY.md §4.2 'deterministic output').

    ``warcinfo_filename``: single-file fidelity mode — the warcinfo
    record names the FINAL file the caller will assemble (WARC-Filename,
    and no engine partition field), not the temp part; the CLI passes the
    target .warc.gz name here so replay/indexing tools keying on
    WARC-Filename see the real name.

    A non-empty ``out_dir`` raises FileExistsError before anything runs.
    """
    if os.path.isdir(out_dir) and os.listdir(out_dir):
        raise FileExistsError(f"{out_dir} exists and is not empty")
    os.makedirs(out_dir, exist_ok=True)

    suffix = ".warc.gz" if gzip_records else ".warc"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}{suffix}"
        path = os.path.join(out_dir, name)
        n = 0
        fh = None  # opened on first record: empty partitions write no file
        try:

            def emit(raw: bytes) -> None:
                fh.write(gzip.compress(raw, 6, mtime=0) if gzip_records else raw)

            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    if fh is None:
                        fh = open(path, "wb")
                        # --no-warcinfo (warcit/warcit.py:93-96): suppress
                        # the per-file warcinfo preamble entirely
                        if warcinfo:
                            emit(_warcinfo_bytes(
                                warcinfo_filename or name,
                                None if warcinfo_filename else pid,
                                cmdline,
                            ))
                    payload = bytes(r.payload) if r.payload is not None else b""
                    headers = [
                        ("WARC-Target-URI", r.url),
                        ("WARC-Date", r.warc_date),
                        (
                            "WARC-Record-ID",
                            record_id_for(r.record_type, r.url, r.warc_date),
                        ),
                        ("Content-Type", r.content_type),
                    ]
                    if getattr(r, "payload_digest", None):
                        headers.append(
                            ("WARC-Payload-Digest", _digest_header(r.payload_digest))
                        )
                    if getattr(r, "refers_to", None):
                        headers.append(("WARC-Refers-To", r.refers_to))
                    if getattr(r, "refers_to_target_uri", None):
                        headers.append(
                            ("WARC-Refers-To-Target-URI", r.refers_to_target_uri)
                        )
                    if getattr(r, "refers_to_target_date", None):
                        headers.append(
                            ("WARC-Refers-To-Target-Date", r.refers_to_target_date)
                        )
                    if getattr(r, "json_metadata", None):
                        headers.append(("WARC-JSON-Metadata", r.json_metadata))
                    emit(_record_bytes(r.record_type, headers, payload))
                    n += 1
        finally:
            if fh is not None:
                fh.close()
        if fh is None:
            return
        yield pd.DataFrame(
            {"path": [path], "n_records": [n], "bytes": [os.path.getsize(path)]}
        )

    return records.mapInPandas(
        fn, "path string, n_records long, bytes long"
    )


def write_warcinfo_only(
    path: str, warc_name: str, cmdline: str | None, gzip_records: bool = True
) -> str:
    """A file holding ONLY the warcinfo record — the zero-resource run's
    output (the reference still writes 'Wrote 0 resources to <name>',
    test/test_warcit.py:160-166).  Driver-side: there is nothing to
    distribute."""
    raw = _warcinfo_bytes(warc_name, None, cmdline)
    with open(path, "wb") as fh:
        fh.write(gzip.compress(raw, 6, mtime=0) if gzip_records else raw)
    return path


def parse_warc_blob(blob: bytes) -> list[dict]:
    """Parse a decompressed WARC/1.0 byte stream into
    ``[{"headers": {...}, "payload": bytes}, ...]`` — the shared core of
    the driver-side test reader below and the distributed source
    (``sources/warc.scan_warc``)."""
    records = []
    i = 0
    while i < len(blob):
        if not blob.startswith(b"WARC/1.0\r\n", i):
            break
        head_end = blob.index(b"\r\n\r\n", i)
        headers = {}
        for line in blob[i + 10 : head_end].split(b"\r\n"):
            k, _, v = line.partition(b": ")
            headers[k.decode()] = v.decode()
        length = int(headers["Content-Length"])
        payload = blob[head_end + 4 : head_end + 4 + length]
        records.append({"headers": headers, "payload": payload})
        i = head_end + 4 + length + 4
    return records


def read_warc_records(path: str) -> list[dict]:
    """Minimal WARC reader for round-trip tests (gzip multi-member aware)."""
    with open(path, "rb") as fh:
        blob = fh.read()
    if path.endswith(".gz"):
        blob = gzip.decompress(blob)  # handles concatenated members
    return parse_warc_blob(blob)
