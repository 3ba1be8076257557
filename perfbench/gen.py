"""Seeded input generators and the results the program must produce.

Nothing here imports Spark: the program under test only ever sees the
files these functions write. Every generator draws from a
``random.Random`` the caller seeds, so one seed gives one byte-identical
input sequence.

Ingest files follow the reference CSV contract (``date, client_id,
client_name, service_name, total_consumed_tokens``). Dates are rendered
in every pattern of ``functions/dates.py::DATE_FORMATS``; about one row
in a hundred is planted bad (malformed field count, unparseable date or
missing ``client_id``) and carries a unique ``bad-…`` marker in
``client_name`` so the quarantine can be checked row by row.

Document drops are parquet files of ``(doc_id bigint, text string)`` with
planted exact and near duplicates of earlier documents.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

CSV_HEADER = "date,client_id,client_name,service_name,total_consumed_tokens\n"

# One renderer per Spark pattern in functions/dates.py::DATE_FORMATS.
DATE_RENDERERS = {
    "d-MMM-yy": lambda d: f"{d.day}-{d:%b}-{d:%y}",
    "yyyy-MM-dd": lambda d: d.isoformat(),
    "yyyy_MM_dd": lambda d: f"{d:%Y_%m_%d}",
    "M/d/yyyy": lambda d: f"{d.month}/{d.day}/{d.year}",
}
_RENDER = list(DATE_RENDERERS.values())

BAD_ROW_SHARE = 0.01
# (kind, quarantine reason the program must assign)
BAD_KINDS = (
    ("extra_field", "malformed_row"),
    ("few_fields", "malformed_row"),
    ("bad_date", "unparseable_date"),
    ("no_client", "missing_client_id"),
)
_BAD_DATES = ("2025-13-45", "13/45/2025", "45-Foo-25", "n/a")
_SERVICES = ("chat", "embed", "rerank", "vision", "batch", "audio", "tools")

BASE_DATE = dt.date(2025, 1, 1)


def client_id(n: int) -> str:
    return f"c{n:06d}"


class Landing:
    """Writes input files under one source directory and records them in
    landing order. Modification times are stamped strictly increasing in
    landing order, and callers name files so path order equals landing
    order, so the program's last-writer-wins order (file path, then row)
    and the file source's oldest-first batching agree with this log."""

    def __init__(self, source_dir: str):
        self.source_dir = source_dir
        self.files: list[dict] = []
        self._mtime_ns = time.time_ns()

    def _stamp(self, path: str) -> None:
        self._mtime_ns = max(self._mtime_ns + 10_000_000, time.time_ns())
        os.utime(path, ns=(self._mtime_ns, self._mtime_ns))

    def write_csv(self, rel: str, rows: list[tuple]) -> dict:
        """``rows``: (date, client_id, tokens, bad_kind | None, marker)."""
        path = os.path.join(self.source_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        lines = [CSV_HEADER]
        for i, (d, cid, tokens, bad, marker) in enumerate(rows):
            date_s = _RENDER[i % len(_RENDER)](d)
            svc = _SERVICES[i % len(_SERVICES)]
            name = marker or f"name-{cid}"
            if bad == "extra_field":
                lines.append(f"{date_s},{cid},{name},{svc},{tokens},EXTRA\n")
            elif bad == "few_fields":
                lines.append(f"{date_s},{cid},{name}\n")
            elif bad == "bad_date":
                lines.append(f"{_BAD_DATES[i % len(_BAD_DATES)]},{cid},{name},{svc},{tokens}\n")
            elif bad == "no_client":
                lines.append(f"{date_s},,{name},{svc},{tokens}\n")
            else:
                lines.append(f"{date_s},{cid},{name},{svc},{tokens}\n")
        data = "".join(lines).encode()
        with open(path, "wb") as fh:
            fh.write(data)
        self._stamp(path)
        rec = {"path": path, "rows": rows, "items": len(rows), "bytes": len(data)}
        self.files.append(rec)
        return rec

    def write_docs(self, rel: str, docs: list[tuple[int, str]]) -> dict:
        path = os.path.join(self.source_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        table = pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs], pa.string()),
            }
        )
        pq.write_table(table, path)
        self._stamp(path)
        rec = {"path": path, "docs": docs, "items": len(docs), "bytes": os.path.getsize(path)}
        self.files.append(rec)
        return rec


def consumption_rows(
    rng: random.Random, date: dt.date, n: int, key_pool: int, marker_prefix: str
) -> list[tuple]:
    """``n`` rows for one date with client ids drawn from ``key_pool``
    ids, so keys repeat within a file and across the files of a date. A
    re-send drawn from a pool wider than the one that built the date
    updates stored keys and adds new ones."""
    rows = []
    for i in range(n):
        cid = client_id(rng.randrange(key_pool))
        tokens = rng.randrange(1, 10**7)
        bad, marker = None, None
        if rng.random() < BAD_ROW_SHARE:
            bad = BAD_KINDS[rng.randrange(len(BAD_KINDS))][0]
            marker = f"bad-{marker_prefix}-{i}"
        rows.append((date, cid, tokens, bad, marker))
    return rows


def expected_table(files: list[dict]) -> dict[tuple[str, str], int]:
    """Last-writer-wins over every good row, in landing then row order:
    ``{(iso date, client_id): total_consumed_tokens}``."""
    want: dict[tuple[str, str], int] = {}
    for f in files:
        for d, cid, tokens, bad, _ in f["rows"]:
            if bad is None:
                want[(d.isoformat(), cid)] = tokens
    return want


def expected_quarantine(files: list[dict]) -> list[tuple[str, str]]:
    """Sorted ``(reason, marker)`` for every planted bad row."""
    reason = dict(BAD_KINDS)
    return sorted(
        (reason[bad], marker)
        for f in files
        for _, _, _, bad, marker in f["rows"]
        if bad is not None
    )


def table_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) over (date, client_id,
    total_consumed_tokens) triples: the sum of per-row digests mod 2^64,
    so any row order, and only the same multiset, gives the same value."""
    n, acc = 0, 0
    for d, cid, tokens in rows:
        h = hashlib.blake2b(f"{d}|{cid}|{tokens}".encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

EXACT_DUP_SHARE = 0.03
NEAR_DUP_SHARE = 0.05


class Corpus:
    """Growing document corpus with planted duplicates. Fresh documents
    are 40-80 words from a 4000-word vocabulary (unrelated documents
    share no word 3-grams in practice); an exact duplicate copies an
    earlier text verbatim, a near duplicate copies one and replaces about
    one word in twenty."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = set()
        while len(vocab) < 4000:
            vocab.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
        self.vocab = sorted(vocab)
        self.docs: list[tuple[int, str]] = []
        self.exact_pairs: list[tuple[int, int]] = []  # (earlier, later)

    def next_drop(self, n: int) -> list[tuple[int, str]]:
        rng = self.rng
        drop = []
        for _ in range(n):
            doc_id = len(self.docs)
            roll = rng.random()
            if self.docs and roll < EXACT_DUP_SHARE:
                src_id, text = self.docs[rng.randrange(len(self.docs))]
                self.exact_pairs.append((src_id, doc_id))
            elif self.docs and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
                words = self.docs[rng.randrange(len(self.docs))][1].split()
                for _ in range(max(1, len(words) // 20)):
                    words[rng.randrange(len(words))] = rng.choice(self.vocab)
                text = " ".join(words)
            else:
                text = " ".join(rng.choice(self.vocab) for _ in range(rng.randint(40, 80)))
            self.docs.append((doc_id, text))
            drop.append((doc_id, text))
        return drop

    def write_documents(self, path: str) -> None:
        """The whole corpus as one ``documents.parquet`` for the one-shot
        reference run."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d for d, _ in self.docs], pa.int64()),
                    "text": pa.array([t for _, t in self.docs], pa.string()),
                }
            ),
            path,
        )
