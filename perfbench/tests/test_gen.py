"""The generator is a pure function of (workload, seed): the same seed
gives byte-identical inputs, another seed different ones.

Run: python3 -m pytest perfbench/tests
"""
import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


def digest(root):
    """sha256 over every file under `root`, by relative path."""
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)


def test_expected_counts_match_the_written_corpus(tmp_path):
    import pyarrow.parquet as pq
    out = str(tmp_path / "ingest")
    exp = gen.generate("ingest", 3, out)
    docs = pq.read_table(f"{out}/corpus/documents.parquet").to_pydict()
    pairs = sum(len(set(t.split()) - gen.FILLER_SET) for t in docs["text"])
    assert pairs == exp["posting_pairs"]
    assert len(docs["doc_id"]) == exp["n_docs"]
    # planted duplicates point at real documents
    ids = set(docs["doc_id"])
    assert exp["near_pairs"] and all(a in ids and b in ids for a, b in exp["near_pairs"])
    for b in exp["batches"]:
        assert b["probe_docs"]


def test_serve_answers_cover_every_query(tmp_path):
    import json
    out = str(tmp_path / "serve")
    exp = gen.generate("serve", 5, out)
    with open(f"{out}/queries.json") as f:
        qs = json.load(f)
    assert {q["kind"] for q in qs} == {"lookup", "and", "or", "andnot", "phrase", "bm25"}
    for q in qs:
        assert q["kind"] + ":" + " ".join(q["terms"]) in exp["answers"]
