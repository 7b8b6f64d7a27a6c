"""Output checks: every op's result against a reference the benchmark
computes on its own.

check(workload, raw, sf_dir, pool_dir) -> (bad_op_indices, notes)
A bad op is a timed op whose output is wrong; notes carry run-level
errors (a broken post-run check fails the run) and derived figures the
metrics need (ANN recall).
"""
import decimal
import math
import os
import re
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

TOKEN = re.compile(r"[a-z0-9]+")


def tokens(text):
    return TOKEN.findall(text.lower())


def round4(x):
    """Spark's round(x, 4): HALF_UP on the double's decimal form."""
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP))


def check(workload, raw, sf_dir, pool_dir):
    return {"rag_qa": check_rag,
            "ingest_serve": check_ingest}[workload](raw, sf_dir, pool_dir)


# ---------------------------------------------------------------- rag_qa

class Bm25:
    """Exact BM25 (k1=1.2, b=0.75, Lucene idf) over the collected corpus,
    ranked on the 4-dp score grid with doc_id as the tie-break."""

    def __init__(self, docs):
        self.text = docs
        self.tf = {d: Counter(tokens(t)) for d, t in docs.items()}
        self.dl = {d: sum(c.values()) for d, c in self.tf.items()}
        self.n = float(len(docs))
        self.avgdl = sum(self.dl.values()) / self.n
        self.df = Counter(t for c in self.tf.values() for t in c)
        self.postings = {}
        for d, c in self.tf.items():
            for t in c:
                self.postings.setdefault(t, []).append(d)

    def condense(self, turns):
        """qa_pipeline's condensation: question terms plus the up-to-3
        rarest (df asc, then term) history terms of the 2 earlier
        turns that the question lacks."""
        qs = [tokens(self.text[d])[:10] for d in turns]
        out = {}
        for j, d in enumerate(turns):
            q = set(qs[j])
            hist = set(t for h in qs[max(0, j - 2):j] for t in h) - q
            picked = sorted(hist, key=lambda t: (self.df[t], t))[:3]
            out[d] = q | set(picked)
        return out

    def top(self, qid, terms, k=3):
        scores = {}
        for t in sorted(terms):
            df = self.df.get(t, 0)
            if not df:
                continue
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1)
            for d in self.postings[t]:
                if d == qid:
                    continue
                tf = self.tf[d][t]
                s = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * self.dl[d] / self.avgdl))
                scores[d] = scores.get(d, 0.0) + s
        ranked = sorted(((round4(s), d) for d, s in scores.items()),
                        key=lambda x: (-x[0], x[1]))
        return ranked[:k]


def _ivf_cells(ivf_dir):
    cent = pq.read_table(os.path.join(ivf_dir, "centroids")).to_pydict()
    centers = np.array(cent["cv"], dtype=np.float64)[np.argsort(cent["cid"])]
    cells = {}
    vdir = os.path.join(ivf_dir, "vectors")
    for part in os.listdir(vdir):
        if part.startswith("cid="):
            t = pq.read_table(os.path.join(vdir, part), columns=["vec_id"])
            cells[int(part[4:])] = t.column("vec_id").to_pylist()
    return centers, cells


def check_rag(raw, sf_dir, _pool):
    d = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text"]).to_pydict()
    bm = Bm25(dict(zip(d["doc_id"], d["text"])))
    e = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
    ids = np.array(e["vec_id"])
    V = np.array(e["embedding"], dtype=np.float32).astype(np.float64)
    row = {int(v): i for i, v in enumerate(ids)}
    n2 = (V * V).sum(axis=1)
    centers, cells = _ivf_cells(raw["check"]["ivf_dir"])

    bad, recall_hits, recall_total = set(), 0, 0
    errors = []
    for o in raw["ops"]:
        if not o["ok"]:
            continue
        p = o["payload"]
        ok = True
        cond = bm.condense(p["turns"])
        got = {}
        for qid, rn, doc, score in p["hits"]:
            got.setdefault(qid, []).append((rn, doc, score))
        for qid in p["turns"]:
            want = bm.top(qid, cond[qid])
            have = sorted(got.get(qid, []))
            if [x[1] for x in have] != [w[1] for w in want] or any(
                    abs(h[2] - w[0]) > 1.5e-4 for h, w in zip(have, want)):
                ok = False
                errors.append(f"op {o['i']} q{qid}: bm25 {have} != {want}")
                break
            ctx = " | ".join(bm.text[w[1]] for w in want)
            if p["contexts"].get(str(qid)) != ctx:
                ok = False
                errors.append(f"op {o['i']} q{qid}: context mismatch")
                break
        dense = {}
        for qid, rank, nb, cos in p["dense"]:
            dense.setdefault(qid, []).append((rank, nb, cos))
        for qid in p["qvecs"]:
            q = V[row[qid]]
            cos = V @ q / np.sqrt(n2 * n2[row[qid]])
            cos[row[qid]] = -np.inf
            brute = set(ids[np.lexsort((ids, -cos))][:5].tolist())
            dist = ((centers - q) ** 2).sum(axis=1)
            probed = np.lexsort((np.arange(len(centers)), dist))[:4]
            cand = [v for c in probed for v in cells.get(int(c), []) if v != qid]
            cc = np.array([cos[row[v]] for v in cand])
            ca = np.array(cand)
            order = np.lexsort((ca, -cc))[:5]
            want = [(int(ca[k]), float(cc[k])) for k in order]
            have = sorted(dense.get(qid, []))
            # same ids, or a swap among candidates tied at the 4-dp grid
            if [h[1] for h in have] != [w[0] for w in want] and not (
                    all(h[1] in cand for h in have) and
                    sorted(round4(cos[row[h[1]]]) for h in have) ==
                    sorted(round4(w[1]) for w in want)):
                ok = False
                errors.append(f"op {o['i']} v{qid}: ivf {have} != {want}")
                break
            if any(abs(h[2] - round4(cos[row[h[1]]])) > 1.5e-4 for h in have):
                ok = False
                errors.append(f"op {o['i']} v{qid}: ivf cosine off")
                break
            recall_hits += len(brute & set(h[1] for h in have))
            recall_total += 5
        if not ok:
            bad.add(o["i"])
    notes = {"mismatches": errors[:5],
             "ann_recall_at_5": recall_hits / recall_total if recall_total else None}
    return bad, notes


# ---------------------------------------------------------- ingest_serve

def check_ingest(raw, _sf, _pool):
    """The union of emitted flags must equal one-shot corpus_clean over
    the same pool (the CleanIngestSpec contract), each epoch must
    publish exactly its kept docs, and every lake read must count what
    the kept set implies at that point."""
    c = raw["check"]
    run_errors, op_errors = [], []
    emitted = {r[0]: tuple(r[1:]) for r in c["emitted"]}
    one_shot = {r[0]: tuple(r[1:]) for r in c["one_shot"]}
    if len(c["emitted"]) != len(emitted):
        run_errors.append("a doc was emitted twice")
    if emitted != one_shot:
        diff = sorted(k for k in set(emitted) | set(one_shot)
                      if emitted.get(k) != one_shot.get(k))
        run_errors.append(f"{len(diff)} docs differ from one-shot corpus_clean: {diff[:5]}")
    epoch_of = {int(k): v for k, v in c["epoch_of"].items()}
    version_of = dict(c["versions"])
    kept = {}
    for d, f in emitted.items():
        if f[-1] == 1:
            kept.setdefault(epoch_of[d], set()).add(d)
    bad = set()
    for o in raw["ops"]:
        if not o["ok"]:
            continue
        p = o["payload"]
        e = p["epoch"]
        if len(kept.get(e, ())) != p["kept"]:
            bad.add(o["i"])
            op_errors.append(f"op {o['i']}: published {p['kept']} != kept {len(kept.get(e, ()))}")
            continue
        live = set().union(*[kept.get(x, set()) for x in range(e + 1)])
        for r in p["reads"]:
            a = r["args"]
            if r["kind"] == "scan":
                want = sum(1 for d in live if a["lo"] <= d <= a["hi"])
            elif r["kind"] == "as_of":
                want = sum(len(kept.get(x, ())) for x in range(e + 1)
                           if version_of[x] <= a["version"])
            else:
                want = 1 if a["doc_id"] in live else 0
            if r["count"] != want:
                bad.add(o["i"])
                op_errors.append(f"op {o['i']}: {r['kind']} read {r['count']} != {want}")
    notes = {"mismatches": (run_errors + op_errors)[:5]}
    if run_errors:
        notes["errors"] = run_errors
    return bad, notes
