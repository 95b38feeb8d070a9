import gzip
import json

from perfbench import lakegen


def _sidecar(blob_path: str) -> str:
    with open(blob_path[: -len(".json.gz")] + ".truth.json") as f:
        return f.read()


def test_same_seed_gives_identical_bytes(tmp_path):
    a, ta = lakegen.write_blob(str(tmp_path / "a"), seed=7, batch=3, n=5000)
    b, tb = lakegen.write_blob(str(tmp_path / "b"), seed=7, batch=3, n=5000)
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()
    assert _sidecar(a) == _sidecar(b)
    assert ta == tb


def test_other_seed_or_batch_gives_other_bytes():
    base, _ = lakegen.generate_blob(7, 3, n=5000)
    assert lakegen.generate_blob(8, 3, n=5000)[0] != base
    assert lakegen.generate_blob(7, 4, n=5000)[0] != base


def test_truth_matches_blob_lines():
    blob, truth = lakegen.generate_blob(11, 0, n=20000)
    lines = gzip.decompress(blob).decode().splitlines()
    assert len(lines) == truth.lines == sum(truth.per_source.values())
    assert truth.uncompressed_bytes == len(gzip.decompress(blob))
    unknown = 0
    per_source = {}
    for line in lines:
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            unknown += 1
            continue
        if rec["event_type"] is None:
            unknown += 1
        else:
            per_source[rec["event_type"]] = per_source.get(rec["event_type"], 0) + 1
    assert unknown == truth.per_source[lakegen.UNKNOWN] == truth.null_event_type + truth.malformed
    assert per_source == {k: v for k, v in truth.per_source.items() if k != lakegen.UNKNOWN}
    # every kind of dirt is present at a 20k-line blob
    assert truth.malformed and truth.null_event_type and truth.late and truth.duplicate_event_ids
    ids = [json.loads(x)["event_id"] for x in lines if x.endswith("}")]
    assert len(ids) > len(set(ids))


def test_zipf_puts_reference_sources_first():
    _, truth = lakegen.generate_blob(5, 0, n=20000)
    counts = [truth.per_source.get(s, 0) for s in lakegen.SOURCES]
    assert counts[0] > counts[1] > counts[-1] > 0
    assert lakegen.SOURCES[:2] == ("clicks", "tweets")
