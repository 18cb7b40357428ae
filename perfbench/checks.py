"""Independent result checks for the crawl-graph benchmark.

Every reference result is computed here with numpy and duckdb from the generator's
own edge list (truth.npz), never from the program's output. The program's vertex
ids are mapped to urls through the dictionary the benchmark JVM writes once per run
(`Ingest.denseDictionary`, the mapping `LinkGraph.build` uses).

Each round of the run yields the same list of verdicts: one per call (the call
returned) and one per result check.
"""
import hashlib
import json
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAMP = 0.85
TOL = 1e-6
PR_MAX_ITER = 200
CALLS = ("ingest", "pagerank", "components", "plp", "plp_converge", "triangles", "resume")


@dataclass
class Verdict:
    name: str
    ok: bool
    detail: str = ""
    # The check failed in the way the PLP oscillation fault the README names makes
    # it fail, and in no other way.
    expected_fault: bool = False


def read(path, *cols):
    t = pq.read_table(path, columns=list(cols))
    return [t.column(c).to_numpy() for c in cols]


class Graph:
    """The generator's truth graph in the program's id space."""

    def __init__(self, truth_path, dict_path):
        t = np.load(truth_path)
        self.urls = t["urls"]
        self.n = len(self.urls)
        d_url, d_id = read(dict_path, "url", "id")
        pos = {u: i for i, u in enumerate(self.urls.tolist())}
        idx = np.array([pos.get(u, -1) for u in d_url.tolist()], dtype=np.int64)
        self.dict_ok = (len(d_url) == self.n and (idx >= 0).all()
                        and len(np.unique(idx)) == self.n)
        self.id_of_idx = np.full(self.n, -1, dtype=np.int64)
        self.id_of_idx[idx[idx >= 0]] = d_id[idx >= 0]
        # Dense position of every id, so arrays below are indexed 0..n-1 in id order.
        self.ids = np.sort(d_id)
        self.src = np.searchsorted(self.ids, self.id_of_idx[t["src"]])
        self.dst = np.searchsorted(self.ids, self.id_of_idx[t["dst"]])
        self.texts = None
        self._cache = {}

    def pos(self, ids):
        p = np.searchsorted(self.ids, ids)
        p = np.minimum(p, self.n - 1)
        if not (self.ids[p] == ids).all():
            raise ValueError("output holds ids outside the vertex set")
        return p

    def undirected(self):
        """(a, b, w) with a < b: antiparallel pairs merge with summed weight."""
        if "und" not in self._cache:
            a = np.minimum(self.src, self.dst)
            b = np.maximum(self.src, self.dst)
            key, w = np.unique(a * self.n + b, return_counts=True)
            self._cache["und"] = (key // self.n, key % self.n, w.astype(np.float64))
        return self._cache["und"]

    def pagerank(self, tol=TOL):
        """Power iteration with NetworKit semantics: no dangling redistribution,
        L2 stop at tol, final normalization. Returns (ranks by position, iterations)."""
        key = "pr%g" % tol
        if key not in self._cache:
            n = self.n
            outdeg = np.bincount(self.src, minlength=n).astype(np.float64)
            coef = 1.0 / outdeg[self.src]
            pr = np.full(n, 1.0 / n)
            it, delta = 0, np.inf
            while it < PR_MAX_ITER and delta > tol:
                nxt = DAMP * np.bincount(self.dst, pr[self.src] * coef, minlength=n) \
                    + (1.0 - DAMP) / n
                delta = np.sqrt(((nxt - pr) ** 2).sum())
                pr = nxt
                it += 1
            self._cache[key] = (pr / pr.sum(), it)
        return self._cache[key]

    def components(self):
        """Minimum position per connected component (undirected), by hooking every
        root to its smallest neighboring root and compressing paths until stable."""
        if "cc" not in self._cache:
            a, b, _ = self.undirected()
            parent = np.arange(self.n)
            while True:
                ra, rb = parent[a], parent[b]
                lo, hi = np.minimum(ra, rb), np.maximum(ra, rb)
                new = parent.copy()
                np.minimum.at(new, hi, lo)
                while True:  # pointer jumping to the roots
                    nxt = new[new]
                    if (nxt == new).all():
                        break
                    new = nxt
                if (new == parent).all():
                    break
                parent = new
            self._cache["cc"] = parent
        return self._cache["cc"]

    def plp_round(self, labels):
        """One synchronous PLP round: every node with a neighbor takes the heaviest
        neighbor label, the smallest label on a tie. Returns (new labels, best
        weight, weight of the node's own label among its neighbors)."""
        a, b, w = self.undirected()
        node = np.concatenate([a, b])
        nbr = np.concatenate([b, a])
        ww = np.concatenate([w, w])
        lab = labels[nbr]
        key, inv = np.unique(node * self.n + lab, return_inverse=True)
        wsum = np.bincount(inv, ww)
        k_node, k_lab = key // self.n, key % self.n
        order = np.lexsort((k_lab, -wsum, k_node))
        first = order[np.r_[True, k_node[order][1:] != k_node[order][:-1]]]
        new = labels.copy()
        new[k_node[first]] = k_lab[first]
        best = np.zeros(self.n)
        best[k_node[first]] = wsum[first]
        own = np.zeros(self.n)
        mine = k_lab == labels[k_node]
        own[k_node[mine]] = wsum[mine]
        return new, best, own

    def plp(self, rounds):
        key = "plp%d" % rounds
        if key not in self._cache:
            labels = np.arange(self.n)
            for _ in range(rounds):
                labels = self.plp_round(labels)[0]
            self._cache[key] = labels
        return self._cache[key]

    def triangles(self):
        if "tri" not in self._cache:
            a, b, _ = self.undirected()
            con = duckdb.connect()
            con.register("und", pa.table({"a": a, "b": b}))
            self._cache["tri"] = con.execute("""
                WITH deg AS MATERIALIZED (
                  SELECT v, count(*) AS d FROM
                    (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
                o AS MATERIALIZED (
                  SELECT CASE WHEN (da.d, und.a) < (db.d, und.b) THEN und.a ELSE und.b END AS lo,
                         CASE WHEN (da.d, und.a) < (db.d, und.b) THEN und.b ELSE und.a END AS hi
                  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b)
                SELECT count(*) FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.hi <> e2.hi
                JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi""").fetchone()[0]
            con.close()
        return self._cache["tri"]


def labels_by_pos(g, path, col):
    ids, vals = read(path, "id", col)
    p = g.pos(ids)
    if len(np.unique(p)) != g.n or len(p) != g.n:
        raise ValueError("expected one row per vertex, got %d rows" % len(p))
    out = np.empty(g.n, dtype=vals.dtype)
    out[p] = vals
    return out


def check_edges(g, rec, out):
    if not g.dict_ok:
        return "dictionary does not cover the crawl's urls one to one"
    if rec["n"] != g.n or rec["m"] != len(g.src):
        return "n=%d m=%d, expected n=%d m=%d" % (rec["n"], rec["m"], g.n, len(g.src))
    s, d = read(os.path.join(out, "edges"), "src", "dst")
    got = np.sort(g.pos(s) * g.n + g.pos(d))
    want = np.sort(g.src * g.n + g.dst)
    if not np.array_equal(got, want):
        return "edge set differs from the generator's (%d of %d rows differ)" % (
            np.setxor1d(got, want).size, want.size)


def check_text(g, pages_path, out):
    if g.texts is None:
        g.texts = dict(zip(*read(pages_path, "url", "text")))
        g.texts = {u: hashlib.md5(t.encode()).hexdigest() for u, t in g.texts.items()}
    urls, md5 = read(os.path.join(out, "text"), "url", "md5")
    if len(urls) != g.n:
        return "%d pages, expected %d" % (len(urls), g.n)
    bad = sum(1 for u, h in zip(urls.tolist(), md5.tolist()) if g.texts.get(u) != h)
    if bad:
        return "extractText differs from text on %d pages" % bad


def check_ranks(g, path, iterations, tol=TOL):
    ranks = labels_by_pos(g, path, "score")
    want, want_it = g.pagerank(tol)
    if abs(ranks.sum() - 1.0) > 1e-9:
        return "ranks sum to %r" % ranks.sum()
    if iterations != want_it:
        return "%d iterations, reference needs %d" % (iterations, want_it)
    if not np.allclose(ranks * g.n, want * g.n, rtol=0.0, atol=1e-6):
        return "ranks differ from the reference by up to %.3g (x n)" % (
            np.abs(ranks - want).max() * g.n)


def check_manifest(path, n):
    """Every complete iteration's per-partition rows sum to n; returns the list of
    complete iteration numbers in file order, or an error string."""
    if not os.path.exists(path):
        return "no manifest at %s" % os.path.basename(path)
    iters = []
    for line in open(path):
        rec = json.loads(line)
        if rec.get("complete"):
            rows = sum(p["rows"] for p in rec["partitions"])
            if rows != n:
                return "manifest iteration %d holds %d rows, expected %d" % (
                    rec["iter"], rows, n)
            iters.append(rec["iter"])
    return iters


def check_components(g, path):
    labels = labels_by_pos(g, path, "label")
    want = g.ids[g.components()]
    if not np.array_equal(labels, want):
        return "%d labels differ from union-find minimum ids" % (labels != want).sum()
    if not (labels[g.src] == labels[g.dst]).all():
        return "an edge's endpoints hold different labels"


def check_plp(g, path):
    labels = labels_by_pos(g, path, "label")
    want = g.ids[g.plp(5)]
    if not np.array_equal(labels, want):
        return "%d labels differ from the synchronous recurrence" % (labels != want).sum()


def plp_threshold(n):
    """`LabelPropagation.run`'s default update threshold."""
    return max(1, n // 100000)


def check_plp_fixpoint(g, path):
    """At return, at most the update threshold of nodes may hold a label whose
    weight among their neighbors is below the heaviest neighbor label's. Only that
    outcome is returned as an error; output that cannot be read or does not cover
    the vertex set raises."""
    labels = g.pos(labels_by_pos(g, path, "label"))
    _, best, own = g.plp_round(labels)
    unsettled = int((own < best).sum())
    threshold = plp_threshold(g.n)
    if unsettled > threshold:
        return "%d nodes not at their heaviest neighbor label at return (threshold %d)" % (
            unsettled, threshold)


def check_run(work, ops, truth_path, fixed_truth):
    out_root = os.path.join(work, "out")
    g = Graph(truth_path, os.path.join(out_root, "dict"))
    gf = Graph(fixed_truth, os.path.join(out_root, "dict_fixed"))
    pages_path = os.path.join(os.path.dirname(truth_path), "pages.parquet")
    rounds = sorted({r["round"] for r in ops}, key=lambda t: int(t[1:]))
    verdicts = []

    def run(name, fn, *args, fault=None):
        """`fault()` tells whether an error the check returned is the known fault;
        an exception (a result that cannot be read) never is."""
        known = False
        try:
            err = fn(*args)
            known = err is not None and fault is not None and fault()
        except Exception as e:
            err = "%s: %s" % (type(e).__name__, e)
        verdicts.append(Verdict(name, err is None, err or "", known))

    for tag in rounds:
        out = os.path.join(out_root, tag)
        ckpt = os.path.join(work, "ckpt", tag)
        recs = {r["op"]: r for r in ops if r["round"] == tag}
        for op in CALLS:
            verdicts.append(Verdict("%s/%s.call" % (tag, op), op in recs,
                                    "" if op in recs else "no result"))
        run(tag + "/ingest.edges", check_edges, g, recs["ingest"], out)
        run(tag + "/ingest.text", check_text, g, pages_path, out)

        run(tag + "/pagerank", check_ranks, g, os.path.join(out, "pagerank"),
            recs["pagerank"]["iterations"])
        run(tag + "/components", check_components, g, os.path.join(out, "components"))
        run(tag + "/plp", check_plp, g, os.path.join(out, "plp"))
        # The oscillation fault: the call used its whole round cap and still
        # updated more nodes than its threshold in the last round.
        conv = recs["plp_converge"]
        run(tag + "/plp_converge", check_plp_fixpoint, gf,
            os.path.join(out, "plp_converge"),
            fault=lambda: conv["rounds"] == conv["cap"]
            and conv["updated_last"] > plp_threshold(gf.n))

        def triangles():
            if recs["triangles"]["count"] != g.triangles():
                return "count %d, reference %d" % (recs["triangles"]["count"], g.triangles())
        run(tag + "/triangles", triangles)

        def resume():
            r = recs["resume"]
            err = check_ranks(g, os.path.join(out, "resume"), r["iterations"], r["tol"])
            if err:
                return err
            iters = check_manifest(os.path.join(ckpt, "resume", "pagerank", "manifest.jsonl"),
                                   g.n)
            if isinstance(iters, str):
                return iters
            k = r["resume_at"]
            if iters[:k + 1] != list(range(k + 1)):
                return "interrupted call wrote iterations %s" % iters[:k + 1]
            new = iters[k + 1:]
            if not new or new[0] != k + 1:
                return "resumed call's first new iteration is %s, expected %d" % (
                    new[:1], k + 1)
        run(tag + "/resume", resume)
    return verdicts
