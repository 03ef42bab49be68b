"""Output checks for the benchmark, run after the engine process exits.

- ingest: the engine process compares, outside its timed sections, the
  bulk and streamed posting counts with the generator's counts of
  distinct (term, doc) pairs, and each read-after-write lookup with the
  documents of its batch; their results are collected here. A traced
  run also reports the recall of the planted near duplicates among the
  MinHash-LSH pairs.
- serve: every distinct query's answer is compared with the answer the
  generator computed from its own token lists, never from the engine.

`run` returns {"failures": [(what, message)], "summary": {...}}.
"""

BM25_TOL = 1e-5


def run(workload, res, expected):
    return {"ingest": _ingest, "serve": _serve}[workload](res, expected)


def _ingest(res, expected):
    checks = res["checks"]
    flags = {k: v for k, v in checks.items() if isinstance(v, bool)}
    summary = {"checked": len(flags), "passed": sum(flags.values())}
    if "lsh_pairs" in checks:
        found = {tuple(sorted(p)) for p in checks["lsh_pairs"]}
        planted = [tuple(sorted(p)) for p in expected["near_pairs"]]
        summary["lsh_recall"] = sum(p in found for p in planted) / len(planted) if planted else 1.0
    # the failed checks are already failed operations, with their text
    return {"failures": [], "summary": summary}


def _same_bm25(got, want):
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > BM25_TOL:
            return False
        if gd != wd and gd not in [d for d, s in want if abs(s - ws) <= BM25_TOL]:
            return False  # a different doc at a rank is only right on a score tie
    return True


def _serve(res, expected):
    got_all = res["checks"].get("serve_answers", {})
    want_all = expected["answers"]
    fails = []
    for key, got in got_all.items():
        want = want_all.get(key)
        if want is None:
            fails.append((key, "no generator answer for this query"))
        elif key.startswith("bm25:"):
            if not _same_bm25(got, want):
                fails.append((key, f"bm25 top-10 differs: engine={got} expected={want}"))
        elif key.startswith("phrase:"):
            if [list(map(int, g)) for g in got] != [list(w) for w in want]:
                fails.append((key, f"phrase matches differ: engine={got[:10]} expected={want[:10]}"))
        elif list(got) != list(want):
            fails.append((key, f"{len(got)} docs, expected {len(want)}; "
                               f"first differences {sorted(set(got) ^ set(want))[:10]}"))
    return {"failures": fails, "summary": {"queries_checked": len(got_all),
                                           "queries_failed": len(fails)}}
