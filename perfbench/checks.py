"""Output checks of the benchmark.

* ``Bm25Oracle``: a sparse, driver-side top-k oracle built from the
  pinned scoring formulas (``config.bm25_weight``,
  ``functions.scoring.score_transform``) over the generated corpus rows.
  It shares no code with the query path (no Spark, no index tables),
  so a wrong plan cannot make it agree by accident.
* ``check_topk``: compares one engine response with the oracle.
* ``check_value_hash``: the near-dup operators' outputs against value
  hashes pinned from their DuckDB ``oracle_sql()`` replay, so no DuckDB
  runs while benchmarking.

Every check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import hashlib
import math

from garamond_jl_spark.config import EngineConfig, bm25_weight
from garamond_jl_spark.functions.scoring import score_transform
from garamond_jl_spark.functions.textprep import tokenize_with_config

# scores are sums of the same products in another order: agreement is
# to the last few ulps, so 1e-9 separates float noise from a real error
SCORE_TOL = 1e-9

# value hashes of the near-dup operators' outputs on the fixture tables
# (perfbench/fixtures/near_dup = the frozen sf0.01 documents and
# embeddings), computed as tools/compare_oracle.py does from each
# operator's DuckDB oracle_sql(); the Spark outputs matched them
NEAR_DUP_HASHES = {
    "dedup_minhash_lsh": ("80b55e0f384cee98", 25),
    "dedup_simhash_pairs": ("af035e3790c11000", 18),
    "ann_lsh_topk": ("214f06bcc2ba4557", 30),
    "semantic_boe_topk": ("9c39d9cc08dfec0d", 10),
}


class Bm25Oracle:
    """Reference-semantics top-k over ``(doc_id, text)`` pairs: BM25
    document vectors, L2-normalized; the query embedded as a
    pseudo-document against the corpus statistics; score
    ``1 − tanh(α·(1 − cos))``; ties by ascending doc_id; a query with
    hits fewer than k is padded with the lowest zero-overlap doc_ids at
    the fill score; an OOV-only query has no hits."""

    def __init__(self, docs: list[tuple[int, str]], cfg: EngineConfig):
        self.cfg = cfg
        counts = []
        df: dict[str, int] = {}
        total = 0
        for doc_id, text in docs:
            c: dict[str, int] = {}
            for t in tokenize_with_config(text, cfg):
                c[t] = c.get(t, 0) + 1
            counts.append((doc_id, c))
            total += sum(c.values())
            for t in c:
                df[t] = df.get(t, 0) + 1
        self.n_docs = float(len(docs))
        self.avgdl = total / len(docs) if docs else 0.0
        self.df = df
        self.doc_ids = sorted(d for d, _ in docs)
        self.postings: dict[str, list[tuple[int, float]]] = {}
        for doc_id, c in counts:
            self._add(doc_id, c)

    def _add(self, doc_id: int, counts: dict[str, int]) -> None:
        dl = float(sum(counts.values()))
        w = {t: bm25_weight(n, dl, self.avgdl, self.n_docs, self.df[t],
                            kappa=self.cfg.kappa, beta=self.cfg.beta)
             for t, n in counts.items()}
        nrm = math.sqrt(sum(x * x for x in w.values()))
        if nrm == 0.0:
            return
        for t, x in w.items():
            self.postings.setdefault(t, []).append((doc_id, x / nrm))

    def push(self, docs: list[tuple[int, str]]) -> None:
        """Documents added after the build, weighted under the build's
        frozen statistics: out-of-vocabulary tokens are dropped and the
        document length is its in-vocabulary token count."""
        for doc_id, text in docs:
            c: dict[str, int] = {}
            for t in tokenize_with_config(text, self.cfg):
                if t in self.df:
                    c[t] = c.get(t, 0) + 1
            self._add(doc_id, c)
        self.doc_ids = sorted({*self.doc_ids, *(d for d, _ in docs)})

    def delete(self, doc_ids: list[int]) -> None:
        gone = set(doc_ids)
        self.doc_ids = [d for d in self.doc_ids if d not in gone]
        for t, plist in self.postings.items():
            self.postings[t] = [(d, w) for d, w in plist if d not in gone]

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        qc: dict[str, int] = {}
        for t in tokenize_with_config(query, self.cfg):
            if t in self.df:
                qc[t] = qc.get(t, 0) + 1
        qlen = float(sum(qc.values()))
        if qlen == 0.0:
            return []
        qw = {t: bm25_weight(n, qlen, self.avgdl, self.n_docs, self.df[t],
                             kappa=self.cfg.kappa, beta=self.cfg.beta)
              for t, n in qc.items()}
        nrm = math.sqrt(sum(x * x for x in qw.values()))
        cos: dict[int, float] = {}
        for t, w in qw.items():
            for d, wn in self.postings.get(t, ()):
                cos[d] = cos.get(d, 0.0) + (w / nrm) * wn
        alpha = self.cfg.score_alpha
        hits = sorted(((score_transform(1.0 - c, alpha), d)
                       for d, c in cos.items()), key=lambda x: (-x[0], x[1]))
        out = [(d, s) for s, d in hits[:k]]
        fill = score_transform(1.0, alpha)
        for d in self.doc_ids:
            if len(out) >= k:
                break
            if d not in cos:
                out.append((d, fill))
        return out


def check_topk(got: list[tuple[int, float]],
               want: list[tuple[int, float]],
               all_scores: dict[int, float] | None = None) -> list[str]:
    """``got`` and ``want`` are rank-ordered ``(doc_id, score)`` lists.
    Same length; the score at every rank agrees within SCORE_TOL; and
    every returned document carries its own oracle score (so two
    documents swapped between ranks fail even when the score column is
    intact).  Documents may differ only inside a tie at the k-th score.
    ``all_scores``: oracle score per doc_id for the whole corpus (to
    judge a document outside ``want``); defaults to ``want`` itself."""
    problems = []
    if len(got) != len(want):
        return [f"{len(got)} results, oracle has {len(want)}"]
    ref = dict(want) if all_scores is None else all_scores
    for rank, ((gd, gs), (_, ws)) in enumerate(zip(got, want), start=1):
        if abs(gs - ws) > SCORE_TOL:
            problems.append(f"rank {rank}: score {gs!r} vs oracle {ws!r}")
        own = ref.get(gd)
        if own is None or abs(own - gs) > SCORE_TOL:
            problems.append(f"rank {rank}: doc {gd} scored {gs!r}, oracle "
                            f"scores it {own!r}")
    if len({d for d, _ in got}) != len(got):
        problems.append("duplicate doc_id in results")
    return problems


def _canon_val(v):
    return bytes(v) if isinstance(v, bytearray) else v


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive value hash of a result, the same function as
    tools/compare_oracle.py applies to the Spark and DuckDB sides."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(repr(_canon_val(r[i])) for i in order) for r in rows)
    h = hashlib.sha256()
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def check_value_hash(name: str, rows: list[tuple], cols: list[str]) -> list[str]:
    want_hash, want_rows = NEAR_DUP_HASHES[name]
    got = value_hash(rows, cols)
    problems = []
    if len(rows) != want_rows:
        problems.append(f"{name}: {len(rows)} rows, pinned {want_rows}")
    if got != want_hash:
        problems.append(f"{name}: hash {got}, pinned {want_hash}")
    return problems
