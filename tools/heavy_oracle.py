#!/usr/bin/env python
"""Independent fixture oracle for the heavy dedup/graph queries.

The 8 queries whose DuckDB SQL oracles are infeasible (or painfully
slow) at sf0.1 — recursive transitive closure and all-candidate exact
Jaccard spill tens of GB in single-node SQL — get their ground truth
from THIS module instead: a pure-Python reimplementation (hashlib md5,
set algebra, union-find, dict adjacency) that computes the same
deterministic results in seconds because it is an algorithm, not a
quadratic SQL replay.  It shares no code with the engine (no Spark, no
DuckDB, no multisql_spark.operators import) — it is a second,
independent implementation of the spec, same evidentiary standing as
the SQL oracles (VERDICT r3 ask #3).

Numeric contract replicated exactly:
- all fingerprints are md5 hex (engine + oracles share this);
- Spark ``F.round(x, d)`` = HALF_UP on the double's SHORTEST decimal
  repr (java.math.BigDecimal.valueOf → Double.toString) — replicated
  with decimal.Decimal(repr(x)), fixed r7 (the exact-binary form
  disagreed at literal-...5 reprs whose binary value sits just below);
- ``F.floor(x)`` on double division replicated with math.floor on the
  same IEEE-754 quotient;
- PageRank's driver-side ``round()`` literals are Python banker's
  rounding in the engine, so plain ``round()`` here IS the replication.

Usage:
  python tools/heavy_oracle.py [sf_dir] [query ...]

Runs each engine query (registry fn) on Spark, compares to the Python
ground truth with the driver's canonicalization (sorted columns, sorted
rows, repr-hash), prints ok/RED, and writes a segment artifact tagged
``oracle: python-fixture`` (under sweeps/ when ``SWEEP_LABEL`` is set,
else under the git-ignored .sweeps/).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
from decimal import ROUND_HALF_UP, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 12
BANDS = 4
ROWS_PER_BAND = K // BANDS
CAP = 32  # per-bucket membership cap (multisql_spark/queries/dedup_q.py)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _round_half_up(x: float, d: int) -> float:
    """Spark F.round on DoubleType: HALF_UP over the SHORTEST decimal
    representation of the double, not its exact binary expansion —
    Spark's Round goes through BigDecimal.valueOf(double), i.e.
    Double.toString, and Python's repr() produces the same shortest
    round-trip digits.  The distinction bites exactly when the shortest
    repr ends in a literal ...5 whose binary value sits a hair below
    (r7 example: 181062305/1310/1e6 reprs as 0.1382155 but is
    0.13821549999...; Spark rounds it UP to 0.138216, exact-binary
    HALF_UP would go DOWN)."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-d), ROUND_HALF_UP)
    )


# --------------------------------------------------------------------------
# corpus model: everything downstream derives from these deterministic maps
# --------------------------------------------------------------------------


class _DocView:
    """doc_id -> per-distinct-text value (the replication-aware map that
    makes the model affordable at derived scale; see Corpus)."""

    __slots__ = ("_tid_of", "_table")

    def __init__(self, tid_of: dict, table: list):
        self._tid_of = tid_of
        self._table = table

    def __getitem__(self, d: int):
        return self._table[self._tid_of[d]]


class Corpus:
    """Per-document token sets, minhash signatures, band keys, simhash,
    and the banded-LSH candidate pair list with estimated Jaccard —
    computed once, shared by every query's ground truth.

    Scaling (VERDICT r8 ask #1): the derived sf directories replicate
    ``documents.text`` VERBATIM (only doc_id offsets —
    tools/make_scaled_sf.py), so the expensive md5 model is computed per
    DISTINCT TEXT (sf0.1-sized work) with a per-distinct-token hash
    cache, then fanned out to replica doc_ids.  Bucket membership is
    capped ON THE FLY with a size-CAP max-heap per (band, key) — only
    the CAP smallest doc_ids per bucket (exactly the engine's
    ``lsh_candidate_pairs_capped`` selection) are ever materialized, so
    memory stays bounded by buckets×CAP instead of total membership.
    Results are bit-identical to the naive per-document model: the
    min-over-token-hashes signature depends only on the token SET, and
    the capped selection is order-independent."""

    def __init__(self, sf_dir: str):
        import heapq

        import pyarrow.parquet as pq

        self.sf_dir = sf_dir
        pf = pq.ParquetFile(os.path.join(sf_dir, "documents.parquet"))
        tid_by_text: dict[str, int] = {}
        texts: list[str] = []
        docs_by_tid: list[list] = []
        self.doc_ids: list[int] = []
        for batch in pf.iter_batches(
            columns=["doc_id", "text"], batch_size=1 << 16
        ):
            for i, tx in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                i = int(i)
                self.doc_ids.append(i)
                tid = tid_by_text.get(tx)
                if tid is None:
                    tid = tid_by_text[tx] = len(texts)
                    texts.append(tx)
                    docs_by_tid.append([])
                docs_by_tid[tid].append(i)
        # --- per-distinct-text model (token hashes cached across texts)
        # F.split(text, " ") + array_distinct == str.split(" ") + set
        toks_t = [set(tx.split(" ")) for tx in texts]
        tok_cache: dict[str, tuple] = {}  # tok -> (md5(tok#1..#K), md5(tok))
        sigs_t: list[list] = []
        simhash_t: list[int] = []
        high = set("89abcdef")
        for ts in toks_t:
            hs, ms = [], []
            for tok in ts:
                c = tok_cache.get(tok)
                if c is None:
                    c = tok_cache[tok] = (
                        [_md5(f"{tok}#{i}") for i in range(1, K + 1)],
                        _md5(tok),
                    )
                hs.append(c[0])
                ms.append(c[1])
            # sig_i = min over tokens of md5(tok + "#i"), i in 1..K
            sigs_t.append([min(h[i] for h in hs) for i in range(K)])
            # 32-bit simhash: bit j-1 set iff the count of token-md5s
            # whose j-th hex digit has its high bit set is >= half
            v = 0
            for j in range(32):
                vote = sum(1 if m[j] in high else -1 for m in ms)
                if vote >= 0:
                    v |= 1 << j
            simhash_t.append(v)
        # --- banded LSH with on-the-fly membership cap, mirroring
        # operators/dedup.py lsh_candidate_pairs_capped (CAP smallest
        # ids per bucket) — the r7 switch of every heavy consumer to
        # the bounded enumeration.  band_key = md5(sig[b*r+1]|...|)
        bkeys_t = [
            [
                _md5(
                    "|".join(
                        sg[b * ROWS_PER_BAND + j]
                        for j in range(ROWS_PER_BAND)
                    )
                )
                for b in range(BANDS)
            ]
            for sg in sigs_t
        ]
        heaps: dict[tuple, list] = {}  # (band, key) -> CAP-smallest max-heap
        counts: dict[tuple, int] = {}
        member_tid: dict[int, int] = {}  # only capped members need lookups
        for tid, ds in enumerate(docs_by_tid):
            for b in range(BANDS):
                kk = (b, bkeys_t[tid][b])
                heap = heaps.setdefault(kk, [])
                counts[kk] = counts.get(kk, 0) + len(ds)
                for d in ds:
                    if len(heap) < CAP:
                        heapq.heappush(heap, (-d, tid))
                    elif -heap[0][0] > d:
                        heapq.heapreplace(heap, (-d, tid))
        pair_set: set[tuple] = set()
        for kk, heap in heaps.items():
            if counts[kk] < 2:
                continue
            ds = sorted(-x for x, _t in heap)
            for x, tid in heap:
                member_tid[-x] = tid
            for i in range(len(ds)):
                for j in range(i + 1, len(ds)):
                    pair_set.add((ds[i], ds[j]))
        # doc-keyed views: every downstream access (candidate pairs, the
        # edge graph they induce) touches only capped members, for which
        # member_tid resolves; doc_ids itself stays the full corpus
        tid_of = member_tid
        self.toks = _DocView(tid_of, toks_t)
        self.sigs = _DocView(tid_of, sigs_t)
        self.simhash = _DocView(tid_of, simhash_t)
        # est_sim = round(agreeing-components / K, 4)
        self.cand: dict[tuple, float] = {}
        for a, b in pair_set:
            sa, sb = self.sigs[a], self.sigs[b]
            agree = sum(1 for i in range(K) if sa[i] == sb[i])
            self.cand[(a, b)] = _round_half_up(agree / float(K), 4)

    # -- derived graph over est_sim >= 0.5 pairs ---------------------------

    def edges05(self) -> list[tuple]:
        return [p for p, s in self.cand.items() if s >= 0.5]

    def degree05(self) -> dict[int, int]:
        deg: dict[int, int] = {}
        for a, b in self.edges05():
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        return deg

    def components(self) -> dict[int, int]:
        """node -> min reachable doc_id (union-find), nodes with >=1 edge."""
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in self.edges05():
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id so the root IS the component label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return {n: find(n) for n in parent}

    def jaccard_counts(self, a: int, b: int) -> tuple:
        sa, sb = self.toks[a], self.toks[b]
        ni = len(sa & sb)
        return ni, len(sa), len(sb)


# --------------------------------------------------------------------------
# per-query ground truth -> (columns, rows) with exact engine dtypes
# --------------------------------------------------------------------------


def gt_dedup_cluster_components(c: Corpus):
    comp = c.components()
    clusters: dict[int, list] = {}
    for d in c.doc_ids:
        clusters.setdefault(comp.get(d, d), []).append(d)
    rows = [
        (cl, len(ds), max(ds)) for cl, ds in clusters.items()
    ]
    return ["cluster", "n_docs", "max_doc"], rows, ["i", "i", "i"]


def gt_dedup_family_histogram(c: Corpus):
    comp = c.components()
    sizes: dict[int, int] = {}
    for d in c.doc_ids:
        cl = comp.get(d, d)
        sizes[cl] = sizes.get(cl, 0) + 1
    hist: dict[int, list] = {}
    for n in sizes.values():
        e = hist.setdefault(n, [0, 0])
        e[0] += 1
        e[1] += n
    rows = [(fs, nf, nt) for fs, (nf, nt) in hist.items()]
    return (
        ["family_size", "n_families", "n_docs_total"],
        rows,
        ["i", "i", "i"],
    )


def gt_dedup_cluster_representatives(c: Corpus):
    comp = c.components()
    deg = c.degree05()
    clusters: dict[int, list] = {}
    for d in c.doc_ids:
        clusters.setdefault(comp.get(d, d), []).append(d)
    rows = []
    for cl, ds in clusters.items():
        # highest degree, ties -> smallest id
        rep = min(ds, key=lambda n: (-deg.get(n, 0), n))
        rows.append((cl, rep, deg.get(rep, 0), len(ds)))
    return (
        ["cluster", "representative", "rep_degree", "n_docs"],
        rows,
        ["i", "i", "i", "i"],
    )


def gt_dedup_graph_pagerank(c: Corpus, iters: int = 3, damping: float = 0.85):
    """Engine replication (operators/dedup.py pagerank_fixed): symmetric
    distinct edges; rank init round(1e9/n) [Python round — the engine's
    literal IS Python round]; contribution floor(rq/d) in double; new
    rank = round((1-damping)*1e9/n) + HALF_UP(damping * sum)."""
    und: set[tuple] = set()
    for a, b in c.edges05():
        und.add((a, b))
        und.add((b, a))
    deg: dict[int, int] = {}
    for u, _v in und:
        deg[u] = deg.get(u, 0) + 1
    n = len(deg)
    if n == 0:
        return ["node", "degree", "pr_q"], [], ["i", "i", "i"]
    base_q = round((1.0 - damping) * 1e9 / n)
    rank = {u: round(1e9 / n) for u in deg}
    for _ in range(iters):
        contrib: dict[int, int] = {}
        for u, v in und:
            contrib[v] = contrib.get(v, 0) + math.floor(rank[u] / deg[u])
        rank = {
            v: base_q
            + int(
                Decimal(damping * s).quantize(Decimal(1), ROUND_HALF_UP)
            )
            for v, s in contrib.items()
        }
    rows = [(u, deg[u], rank[u]) for u in rank]
    return ["node", "degree", "pr_q"], rows, ["i", "i", "i"]


def gt_dedup_minhash_calibration(c: Corpus):
    groups: dict[float, list] = {}
    for (a, b), est in c.cand.items():
        ni, na, nb = c.jaccard_counts(a, b)
        est_q = math.floor(est * 1000000 + 0.5)
        jac_q = math.floor(ni * 1000000.0 / (na + nb - ni) + 0.5)
        g = groups.setdefault(est, [0, 0, 0])
        g[0] += 1
        g[1] += jac_q
        g[2] += abs(est_q - jac_q)
    rows = [
        (
            est,
            n,
            _round_half_up(sj / n / 1000000.0, 6),
            _round_half_up(se / n / 1000000.0, 6),
        )
        for est, (n, sj, se) in groups.items()
    ]
    return (
        ["est_sim", "n_pairs", "mean_exact_jac", "mean_abs_err"],
        rows,
        ["f", "i", "f", "f"],
    )


def gt_dedup_lsh_precision_recall(c: Corpus):
    tp = fp = fn = npred = ntruth = 0
    for (a, b), est in c.cand.items():
        ni, na, nb = c.jaccard_counts(a, b)
        pred = est >= 0.5
        truth = ni * 2 >= na + nb - ni
        tp += pred and truth
        fp += pred and not truth
        fn += (not pred) and truth
        npred += pred
        ntruth += truth
    prec = _round_half_up(tp / npred, 6) if npred else None
    rec = _round_half_up(tp / ntruth, 6) if ntruth else None
    return (
        ["tp", "fp", "fn", "precision_at_05", "recall_within_candidates"],
        [(tp, fp, fn, prec, rec)],
        ["i", "i", "i", "f", "f"],
    )


def gt_dedup_ensemble_verdict(c: Corpus):
    rows = []
    for (a, b), est in c.cand.items():
        ni, na, nb = c.jaccard_counts(a, b)
        jac = _round_half_up(ni / float(na + nb - ni), 4)
        ham = bin(c.simhash[a] ^ c.simhash[b]).count("1")
        votes = (est >= 0.5) + (jac >= 0.5) + (ham <= 4)
        rows.append((a, b, est, jac, ham, votes >= 2))
    return (
        ["doc_a", "doc_b", "est_sim", "jaccard", "hamming", "is_dup"],
        rows,
        ["i", "i", "f", "f", "i", "b"],
    )


def gt_dedup_graph_triangles(c: Corpus, cap: int = 64):
    e = c.edges05()
    deg = c.degree05()
    hubs = {u for u, d in deg.items() if d > cap}
    ke = [(a, b) for a, b in e if a not in hubs and b not in hubs]
    kdeg: dict[int, int] = {}
    fwd: dict[int, set] = {}
    for a, b in ke:
        kdeg[a] = kdeg.get(a, 0) + 1
        kdeg[b] = kdeg.get(b, 0) + 1
        fwd.setdefault(a, set()).add(b)
    n_tri = 0
    for a, b in ke:
        n_tri += len(fwd.get(a, set()) & fwd.get(b, set()))
    n_wedges = sum(d * (d - 1) // 2 for d in kdeg.values())
    coeff = (
        _round_half_up(3.0 * n_tri / n_wedges, 6) if n_wedges > 0 else 0.0
    )
    rows = [
        (len(deg), len(e), len(hubs), len(ke), n_wedges, n_tri, coeff)
    ]
    return (
        [
            "n_nodes", "n_edges", "n_hubs_excluded", "n_edges_capped",
            "n_wedges", "n_triangles", "clustering_coeff",
        ],
        rows,
        ["i", "i", "i", "i", "i", "i", "f"],
    )


def gt_pipeline_pack_sequences(c: Corpus, budget: int = 128, n_groups: int = 16):
    """First-fit-in-order packing replay (pipeline_q.py oracle is a
    row-at-a-time RECURSIVE CTE — O(depth × n) in DuckDB, hours at
    derived sf100, where this linear Python walk is sub-second).
    Identical rule: within each md5 hash group walk docs by id, new pack
    when the next doc would overflow the budget."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(c.sf_dir, "documents.parquet"),
        columns=["doc_id", "n_chars"],
    )
    groups: dict[int, list] = {}
    for d, nch in zip(t.column("doc_id").to_pylist(), t.column("n_chars").to_pylist()):
        d = int(d)
        grp = int(_md5(str(d))[:2], 16) % n_groups
        groups.setdefault(grp, []).append((d, -(-int(nch) // 4)))
    rows = []
    for grp, docs in groups.items():
        docs.sort()
        pack_seq = cur_total = 0
        start = len(rows)
        for d, n in docs:
            if cur_total > 0 and cur_total + n > budget:
                for i in range(start, len(rows)):
                    rows[i][-1] = cur_total
                start = len(rows)
                pack_seq += 1
                cur_total = 0
            rows.append([grp, pack_seq, d, n, 0])
            cur_total += n
        for i in range(start, len(rows)):
            rows[i][-1] = cur_total
    return (
        ["grp", "pack_seq", "doc_id", "n_tokens", "pack_total"],
        [tuple(r) for r in rows],
        ["i4", "i", "i", "i", "i"],
    )


_EVENT_SHARDS = 16


def _sharded_events_replay(sf_dir: str, shard_sql, tail=None):
    """Run a per-user-shard DuckDB replay of an events oracle.

    The two r9 sf1000 oracle reds (`events_user_sequence` OOM at ~45 GiB,
    `events_markov_stationary` spill-dir exhaustion) are RESOURCE
    failures of the one-shot SQL plan, not correctness gaps: both
    oracles aggregate within user_id partitions, so the identical truth
    is computable in {_EVENT_SHARDS} passes over ``user_id %
    {_EVENT_SHARDS} = k`` at 1/{_EVENT_SHARDS} the memory — every
    user's whole sequence lives in exactly one shard.  ``shard_sql(k)``
    returns the per-shard query; ``tail(con, merged_df)`` optionally
    runs the original oracle's cheap algebra tail (e.g. the Markov
    power iteration) over the merged shard outputs IN DUCKDB, so the
    semantics stay bit-identical to the registered one-shot SQL."""
    import pandas as pd

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from multisql_spark.testing import duckdb_connection

    parts = []
    for k in range(_EVENT_SHARDS):
        con = duckdb_connection(sf_dir)
        parts.append(con.execute(shard_sql(k)).df())
        con.close()
    merged = pd.concat(parts, ignore_index=True)
    if tail is None:
        return merged
    con = duckdb_connection(sf_dir)
    try:
        con.register("__shard_merged", merged)
        return tail(con)
    finally:
        con.close()


def gt_events_user_sequence(c):
    """Sharded replay of the events_user_sequence oracle (pipeline_q.py):
    per-user GROUP BY is embarrassingly user-parallel, so concatenating
    the 16 shard outputs is the exact one-shot result."""
    epoch = "CAST(floor(date_part('epoch', ts)) AS BIGINT)"

    def shard(k: int) -> str:
        return f"""
        SELECT CAST(user_id AS BIGINT) AS user_id,
               COUNT(*) AS n_events,
               array_to_string(list_slice(
                 list(event_type ORDER BY {epoch} DESC, event_id DESC),
                 1, 5), ',') AS last5_types,
               CAST(max({epoch}) - min({epoch}) AS BIGINT) AS span_sec,
               round((max({epoch}) - min({epoch}))
                     / greatest(COUNT(*) - 1, 1) / 60.0, 4) AS avg_gap_min
        FROM events
        WHERE user_id % {_EVENT_SHARDS} = {k}
        GROUP BY user_id
        """

    df = _sharded_events_replay(c.sf_dir, shard)
    return (
        ["user_id", "n_events", "last5_types", "span_sec", "avg_gap_min"],
        list(df.itertuples(index=False, name=None)),
        ["i", "i", "s", "i", "f"],
    )


def gt_events_markov_stationary(c):
    """Sharded replay of events_markov_stationary (analytics_q.py): the
    expensive lead() window partitions by user_id (shardable — transition
    COUNTS merge by summation), then the |types|² integer power
    iteration runs as the ORIGINAL oracle tail SQL over the merged
    counts, so every floor/casting quirk matches the one-shot plan."""
    scale = 1000000000  # analytics_q._MK_SCALE

    def shard(k: int) -> str:
        return f"""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(date_part('epoch', ts)) AS BIGINT),
                            event_id) AS next_type
          FROM events
          WHERE user_id % {_EVENT_SHARDS} = {k}
        )
        SELECT event_type AS from_type, next_type AS to_type,
               COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        """

    def step(n: int) -> str:
        return f"""
          SELECT t.to_type AS state,
                 CAST(sum(p.mass * t.tq / {scale}) AS BIGINT) AS mass
          FROM p{n} p JOIN tmat t ON t.from_type = p.state
          GROUP BY t.to_type
        """

    def tail(con):
        return con.execute(f"""
        WITH cnt AS (
          SELECT from_type, to_type, CAST(sum(n) AS BIGINT) AS n
          FROM __shard_merged GROUP BY 1, 2
        ),
        rowtot AS (SELECT from_type, sum(n) AS rt FROM cnt GROUP BY 1),
        tmat AS (
          SELECT c.from_type, c.to_type,
                 CAST(floor(c.n * {scale}.0 / r.rt + 0.5) AS BIGINT) AS tq
          FROM cnt c JOIN rowtot r ON c.from_type = r.from_type
        ),
        states AS (SELECT DISTINCT from_type AS state FROM cnt),
        nstates AS (SELECT COUNT(*) AS ns FROM states),
        p0 AS (
          SELECT state, CAST({scale} // ns AS BIGINT) AS mass
          FROM states, nstates
        ),
        p1 AS ({step(0)}),
        p2 AS ({step(1)}),
        p3 AS ({step(2)}),
        p4 AS ({step(3)})
        SELECT state, round(mass / {scale}.0, 6) AS stationary_prob
        FROM p4
        """).df()

    df = _sharded_events_replay(c.sf_dir, shard, tail)
    return (
        ["state", "stationary_prob"],
        list(df.itertuples(index=False, name=None)),
        ["s", "f"],
    )


GROUND_TRUTH = {
    "events_user_sequence": gt_events_user_sequence,
    "events_markov_stationary": gt_events_markov_stationary,
    "pipeline_pack_sequences": gt_pipeline_pack_sequences,
    "dedup_cluster_components": gt_dedup_cluster_components,
    "dedup_family_histogram": gt_dedup_family_histogram,
    "dedup_cluster_representatives": gt_dedup_cluster_representatives,
    "dedup_graph_pagerank": gt_dedup_graph_pagerank,
    "dedup_minhash_calibration": gt_dedup_minhash_calibration,
    "dedup_lsh_precision_recall": gt_dedup_lsh_precision_recall,
    "dedup_ensemble_verdict": gt_dedup_ensemble_verdict,
    "dedup_graph_triangles": gt_dedup_graph_triangles,
}

_DTYPES = {
    "i": "int64", "i4": "int32", "f": "float64", "b": "bool",
    "s": "object",
}


def _gt_frame(cols, rows, kinds):
    import pandas as pd

    df = pd.DataFrame(rows, columns=cols)
    for col, kind in zip(cols, kinds):
        if df[col].isna().any():  # nullable float stays object-free
            df[col] = df[col].astype("float64" if kind == "f" else "object")
        else:
            df[col] = df[col].astype(_DTYPES[kind])
    return df


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _hash(df) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    names = [n for n in GROUND_TRUTH if not only or n in only]

    t0 = time.perf_counter()
    events_only = {"events_user_sequence", "events_markov_stationary"}
    if set(names) <= events_only:
        # the sharded events replays only need sf_dir — skip the
        # (docs-scale) LSH corpus model build entirely
        corpus = type("SfOnly", (), {"sf_dir": sf_dir})()
        print("corpus model: skipped (events-only run)", flush=True)
    else:
        corpus = Corpus(sf_dir)
        print(
            f"corpus model: {len(corpus.doc_ids)} docs, "
            f"{len(corpus.cand)} LSH candidates "
            f"({time.perf_counter() - t0:.1f}s)",
            flush=True,
        )

    from multisql_spark.queries import load_all
    from multisql_spark.tables import local_session

    spark = local_session("heavy-oracle")
    registry = load_all()

    report: dict[str, dict] = {}
    n_red = 0
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        row: dict = {}
        try:
            cols, rows, kinds = GROUND_TRUTH[name](corpus)
            gt = _canon(_gt_frame(cols, rows, kinds))
            sdf = _canon(registry[name].fn(spark, sf_dir).toPandas())
            row = {
                "rows_match": len(sdf) == len(gt),
                "schema_match": sorted(sdf.columns) == sorted(gt.columns),
                "hash_match": _hash(sdf) == _hash(gt),
                "spark_rows": len(sdf),
                "oracle_rows": len(gt),
                "oracle": "python-fixture",
            }
            if not row["hash_match"] and row["rows_match"]:
                for col in sdf.columns:
                    if col not in gt.columns:
                        continue
                    a = sdf[col].astype(str).values
                    b = gt[col].astype(str).values
                    bad = a != b
                    if bad.any():
                        k = bad.argmax()
                        row.setdefault("first_diff", {})[col] = [
                            str(a[k]), str(b[k]),
                        ]
        except Exception:
            import traceback

            row = {"err": traceback.format_exc(limit=3)[-800:]}
        row["wall_sec"] = round(time.perf_counter() - t0, 3)
        ok = row.get("hash_match", False) and not row.get("err")
        if not ok:
            n_red += 1
        report[name] = row
        tag = "ok " if ok else "RED"
        print(
            f"[{i + 1}/{len(names)}] {tag} {name} "
            f"{'' if ok else json.dumps(row)[:400]}",
            flush=True,
        )

    print(f"\n{len(names) - n_red}/{len(names)} green")
    tag = os.path.basename(sf_dir.rstrip("/"))
    # labeled sweeps are tracked evidence (sweeps/); unlabeled runs go
    # to the git-ignored .sweeps/ (see tools/driver_sim.py)
    label = os.environ.get("SWEEP_LABEL")
    seg = hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()[:8]
    sweeps_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "sweeps" if label else ".sweeps",
    )
    label = label or "adhoc"
    os.makedirs(sweeps_dir, exist_ok=True)
    out = os.path.join(
        sweeps_dir, f"{label}_{tag}_heavyfix_{len(names)}q_{seg}.json"
    )
    with open(out, "w") as f:
        json.dump(
            {
                "label": label,
                "sf": tag,
                "oracle": "python-fixture",
                "n_queries": len(names),
                "n_green": len(names) - n_red,
                "queries": report,
            },
            f,
            indent=1,
            default=str,
        )
    print(f"sweep artifact: {out}")
    return 1 if n_red else 0


if __name__ == "__main__":
    sys.exit(main())
