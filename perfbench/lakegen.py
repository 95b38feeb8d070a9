"""Seeded lake-event generator with a ground-truth sidecar.

Each blob is one gzip JSON-lines staging file, about the size of the
reference's 10 MB Firehose flush (uncompressed), with the fields of
``lake.EVENTS_JSON_SCHEMA``. ``event_type`` follows a Zipf law over
``SOURCES``; about 1% of rows carry a null ``event_type`` and about
0.5% are malformed lines, and both must land in the ``__unknown__``
source. About 1% of rows repeat an earlier ``event_id`` of the same
blob and about 0.5% have a late ``ts``.

The sidecar (``<blob>.truth.json``) records what the engine must
report for the blob: line count, rows per source, null and malformed
counts, and the duplicated ids. The same seed and batch index give
byte-identical blobs.
"""

from __future__ import annotations

import gzip
import io
import json
import os
from dataclasses import asdict, dataclass, field

import numpy as np

UNKNOWN = "__unknown__"
# the reference's two sources (app.py:9) lead the Zipf ranking
SOURCES = (
    "clicks",
    "tweets",
    "pageviews",
    "searches",
    "signups",
    "orders",
    "payments",
    "errors",
)
ZIPF_S = 1.1
EVENTS_PER_BLOB = 68_000  # ~10 MB of JSON lines
NULL_FRAC = 0.01
MALFORMED_FRAC = 0.005
DUP_FRAC = 0.01
LATE_FRAC = 0.005
BATCH_SPAN_S = 3600  # one batch covers an hour of event time
EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z


def zipf_weights(n: int = len(SOURCES), s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


@dataclass
class BlobTruth:
    batch: int
    lines: int
    per_source: dict[str, int]
    null_event_type: int
    malformed: int
    late: int
    duplicate_event_ids: list[int] = field(default_factory=list)
    uncompressed_bytes: int = 0
    compressed_bytes: int = 0


def _iso(sec: np.ndarray, ms: np.ndarray) -> list[str]:
    base = np.datetime64("1970-01-01T00:00:00", "s")
    stamps = np.datetime_as_string(base + sec.astype("timedelta64[s]"), unit="s")
    return [f"{s}.{m:03d}" for s, m in zip(stamps.tolist(), ms.tolist())]


def generate_blob(seed: int, batch: int, n: int = EVENTS_PER_BLOB) -> tuple[bytes, BlobTruth]:
    """One staging blob (gzip bytes) and its truth, from (seed, batch) only."""
    rng = np.random.default_rng([seed, batch])
    src_idx = rng.choice(len(SOURCES), size=n, p=zipf_weights())
    kind = rng.random(n)
    is_malformed = kind < MALFORMED_FRAC
    is_null = (kind >= MALFORMED_FRAC) & (kind < MALFORMED_FRAC + NULL_FRAC)

    event_id = np.int64(seed % 1_000_003) * 10**12 + np.int64(batch) * 10**7 + np.arange(n, dtype=np.int64)
    dup = np.flatnonzero(rng.random(n) < DUP_FRAC)
    dup = dup[dup > 0]
    event_id[dup] = event_id[rng.integers(0, dup)]

    start = EPOCH_2024 + batch * BATCH_SPAN_S
    sec = np.sort(rng.integers(0, BATCH_SPAN_S, size=n)) + start
    late = rng.random(n) < LATE_FRAC
    sec[late] -= rng.integers(BATCH_SPAN_S, 6 * BATCH_SPAN_S, size=int(late.sum()))
    ts = _iso(sec, rng.integers(0, 1000, size=n))
    user = rng.integers(1, 50_000, size=n).tolist()
    value = np.round(rng.gamma(2.0, 25.0, size=n), 4).tolist()
    prop_k = rng.integers(0, 100, size=n).tolist()

    lines = []
    per_source = dict.fromkeys((*SOURCES, UNKNOWN), 0)
    ids = event_id.tolist()
    srcs = src_idx.tolist()
    for i in range(n):
        head = f'{{"event_id": {ids[i]}, "ts": "{ts[i]}", "user_id": {user[i]}, '
        tail = f'"value": {value[i]}, "props": "{{\\"k\\": {prop_k[i]}}}"'
        if is_malformed[i]:
            # no event_type key and no closing brace: whether the JSON
            # reader keeps partial fields or not, the source is null
            lines.append(head + tail)
            per_source[UNKNOWN] += 1
        elif is_null[i]:
            lines.append(head + '"event_type": null, ' + tail + "}")
            per_source[UNKNOWN] += 1
        else:
            s = SOURCES[srcs[i]]
            lines.append(head + f'"event_type": "{s}", ' + tail + "}")
            per_source[s] += 1
    raw = ("\n".join(lines) + "\n").encode()
    buf = io.BytesIO()
    # mtime=0 and no file name in the header: same inputs, same bytes
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, compresslevel=6, mtime=0) as gz:
        gz.write(raw)
    blob = buf.getvalue()
    truth = BlobTruth(
        batch=batch,
        lines=n,
        per_source={k: v for k, v in per_source.items() if v},
        null_event_type=int(is_null.sum()),
        malformed=int(is_malformed.sum()),
        late=int(late.sum()),
        duplicate_event_ids=sorted({ids[i] for i in dup.tolist()}),
        uncompressed_bytes=len(raw),
        compressed_bytes=len(blob),
    )
    return blob, truth


def write_blob(staging_dir: str, seed: int, batch: int, n: int = EVENTS_PER_BLOB) -> tuple[str, BlobTruth]:
    """Write ``batch-<i>.json.gz`` and its ``.truth.json`` sidecar;
    returns the blob path and the truth."""
    os.makedirs(staging_dir, exist_ok=True)
    blob, truth = generate_blob(seed, batch, n)
    path = os.path.join(staging_dir, f"batch-{batch:05d}.json.gz")
    with open(path, "wb") as f:
        f.write(blob)
    with open(path[: -len(".json.gz")] + ".truth.json", "w") as f:
        json.dump(asdict(truth), f, sort_keys=True)
    return path, truth
