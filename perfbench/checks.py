"""Content checks of the llm_curation outputs, made apart from the engine.

Each entry the JVM lists (stage, round, parquet path) is one operation;
a check returns a failure message for it, or nothing. Failure messages
start with the stage name. A micro-batch whose only fault is the admission
Bloom filter's false-seen share says "known fault (Bloom saturation)"
(run.py counts those as a known fault).
"""
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from gen import STOPWORDS

QUALITY_MIN = 0.35       # perfbench.Curation.QualityMin
LSH_THRESHOLD = 0.5      # Curation.LshThreshold
SEM_THRESHOLD = 0.95     # Curation.SemThreshold
FALSE_SEEN_BOUND = 0.01  # share of never-seen documents marked seen_exact
EPS = 1e-6


def quality(text):
    """TextOps.qualityCol replayed: length, type/token ratio, stopword rate."""
    toks = text.lower().split(" ")
    n = len(toks)
    ttr = len(set(toks)) / n
    stop = sum(1 for t in toks if t in STOPWORDS) / n
    return min(n / 200.0, 1.0) * 0.5 + ttr * 0.3 + min(stop * 5.0, 1.0) * 0.2


def shingles(text, n=3):
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def rows(path):
    return pq.read_table(path).to_pylist()


def check_curation(entries, exp):
    """Entries are grouped by their "round" key: one key per funnel pass
    ("round.pass") and one per admission stream ("round")."""
    text = {d: t for d, t, _ in exp["docs"]}
    plant = {d: p for d, _, p in exp["docs"] if p}
    groups = defaultdict(lambda: defaultdict(list))
    for e in entries:
        groups[e["round"]][e["stage"]].append(e)
    failures = []
    corrupt = exp.get("corrupt")   # alters one expected score, once
    for key in sorted(groups):
        st = groups[key]
        if "curation.admission" in st:
            batches = sorted(st["curation.admission"], key=lambda e: e["batch"])
            failures += check_admission(batches, exp, key)
            continue
        q = rows(st["curation.quality"][0]["path"])
        exact = rows(st["curation.exact"][0]["path"])
        lsh = rows(st["curation.lsh"][0]["path"])
        sem = rows(st["curation.semdedup"][0]["path"])
        jvm_ok = {stage: es[0]["jvm_ok"] for stage, es in st.items()}
        kept = {r["doc_id"] for r in q if r["quality"] >= QUALITY_MIN}
        survivors = {r["doc_id"] for r in exact}
        after = survivors - {r["db"] for r in lsh}
        results = {
            "curation.quality": check_quality(q, text, corrupt),
            "curation.exact": check_exact(kept, survivors, text),
            "curation.lsh": check_lsh(lsh, survivors, text, plant),
            "curation.semdedup": check_semdedup(sem, after, exp),
        }
        corrupt = False
        for stage, msg in results.items():
            if msg and jvm_ok.get(stage, True):
                failures.append(f"{stage} pass {key}: {msg}")
    return failures


def check_quality(q, text, corrupt):
    bad = 0
    for i, r in enumerate(q):
        want = quality(text[r["doc_id"]])
        if corrupt and i == 0:
            want += 0.5
        if abs(r["quality"] - want) > 2e-6:
            bad += 1
    if len(q) != len(text):
        return f"{len(q)} scores for {len(text)} documents"
    return f"{bad} scores differ from the replayed formula" if bad else None


def check_exact(kept, survivors, text):
    first = {}
    for d in sorted(kept):
        first.setdefault(text[d], d)
    want = set(first.values())
    if survivors != want:
        return f"{len(survivors)} survivors, expected {len(want)} (first id per distinct text)"
    return None


def check_lsh(pairs, survivors, text, plant):
    sh = {}

    def s(d):
        if d not in sh:
            sh[d] = shingles(text[d])
        return sh[d]
    found = set()
    for r in pairs:
        a, b = r["da"], r["db"]
        if not (a < b and a in survivors and b in survivors):
            return f"pair ({a}, {b}) is not an ordered pair of survivors"
        j = jaccard(s(a), s(b))
        if j < LSH_THRESHOLD - EPS or abs(j - r["jaccard"]) > EPS:
            return f"pair ({a}, {b}) reports Jaccard {r['jaccard']}, recomputed {j:.6f}"
        found.add((a, b))
    missed = [(d, p[1]) for d, p in plant.items()
              if p[0] == "mutant" and d in survivors and p[1] in survivors
              and jaccard(s(d), s(p[1])) >= LSH_THRESHOLD + 0.05
              and (min(d, p[1]), max(d, p[1])) not in found]
    return f"{len(missed)} planted mutants not found, e.g. {missed[0]}" if missed else None


def check_semdedup(sem, after, exp):
    ids = {r["vec_id"] for r in sem}
    if ids != after:
        return f"{len(ids)} vectors in, expected the {len(after)} LSH survivors"
    index = {v: i for i, v in enumerate(exp["vector_ids"])}
    mat = exp["vectors"].astype(np.float64)
    cells = defaultdict(list)
    for r in sem:
        cells[r["cell"]].append(r)
    for cell, members in cells.items():
        vids = [r["vec_id"] for r in members]
        keep = np.array([r["keep"] for r in members])
        v = mat[[index[x] for x in vids]]
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        cos = np.round(v @ v.T, 5)
        np.fill_diagonal(cos, -1.0)
        kk = cos[np.ix_(keep, keep)]
        if kk.size and kk.max() >= SEM_THRESHOLD + EPS:
            return f"two kept vectors in cell {cell} have cosine {kk.max():.5f}"
        # components over near-duplicate edges: each must hold a kept vector
        parent = list(range(len(vids)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in zip(*np.nonzero(cos >= SEM_THRESHOLD - EPS)):
            parent[find(a)] = find(b)
        has_kept = {find(i) for i in range(len(vids)) if keep[i]}
        orphan = [vids[i] for i in range(len(vids)) if not keep[i] and find(i) not in has_kept]
        if orphan:
            return f"dropped vector {orphan[0]} has no kept near duplicate in cell {cell}"
    kept = {r["vec_id"] for r in sem if r["keep"]}
    cell_of = {r["vec_id"]: r["cell"] for r in sem}
    ids_list = exp["vector_ids"]
    both = [(ids_list[i], ids_list[j]) for i, j in exp["planted_vectors"].items()
            if ids_list[i] in kept and ids_list[j] in kept
            and cell_of[ids_list[i]] == cell_of[ids_list[j]]]
    return f"planted near-duplicate vectors both kept: {both[0]}" if both else None


def check_admission(batches, exp, rnd):
    """Verdicts of each micro-batch against the exact text of everything
    before it (history + earlier segments) and recomputed Jaccard against
    the index (history + earlier admitted documents)."""
    failures = []
    seen_text = {t for _, t, _ in exp["history"]}
    index = {}                         # doc id -> shingle set
    by_shingle = defaultdict(set)

    def add(d, t):
        index[d] = shingles(t)
        for s in index[d]:
            by_shingle[s].add(d)
    for d, t, _ in exp["history"]:
        add(d, t)
    for e, seg in zip(batches, exp["segments"]):
        b = e["batch"]
        seg_text = {d: t for d, t, _ in seg}
        verdicts = rows(e["path"])
        msgs = []
        never = [v for v in verdicts if seg_text[v["doc_id"]] not in seen_text]
        missed = [v["doc_id"] for v in verdicts
                  if seg_text[v["doc_id"]] in seen_text and not v["seen_exact"]]
        if missed:
            msgs.append(f"{len(missed)} repeated texts not marked seen")
        false_seen = sum(1 for v in never if v["seen_exact"])
        share = false_seen / max(1, len(never))
        for v in verdicts:
            if v["admit"] != (not v["seen_exact"] and not v["near_dup"]):
                msgs.append(f"doc {v['doc_id']}: admit disagrees with its verdicts")
                break
        for v in verdicts:
            if not v["near_dup"]:
                continue
            # the reported best Jaccard must be the Jaccard of some indexed
            # document that shares a shingle with it
            sv = shingles(seg_text[v["doc_id"]])
            cands = set().union(*(by_shingle.get(s, ()) for s in sv))
            js = [jaccard(sv, index[c]) for c in cands]
            if v["best_jaccard"] < LSH_THRESHOLD - EPS or \
                    not any(abs(j - v["best_jaccard"]) <= EPS for j in js):
                msgs.append(f"doc {v['doc_id']}: best Jaccard {v['best_jaccard']} "
                            f"matches no indexed document")
                break
        flagged = {v["doc_id"] for v in verdicts if v["near_dup"]}
        for d, _, p in seg:
            if p and p[0] == "mutant" and p[1] in index and d not in flagged and \
                    jaccard(shingles(seg_text[d]), index[p[1]]) >= LSH_THRESHOLD + 0.05:
                msgs.append(f"planted mutant {d} of indexed {p[1]} not flagged near_dup")
                break
        if share > FALSE_SEEN_BOUND and not msgs:
            msgs.append(f"known fault (Bloom saturation): false-seen share {share:.4f} ({false_seen}/{len(never)} never-seen "
                        f"documents marked seen_exact) over the {FALSE_SEEN_BOUND} bound")
        if msgs and e["jvm_ok"]:   # a batch the JVM already failed counts once
            failures.append(f"curation.admission round {rnd} batch {b}: " + "; ".join(msgs))
        seen_text |= set(seg_text.values())
        for v in verdicts:
            if v["admit"]:
                add(v["doc_id"], seg_text[v["doc_id"]])
    return failures
