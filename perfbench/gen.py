"""Seeded crawl page tables for the benchmark, separate from the program's own
generators.

A page table has the program's input schema
`(url string, warc_ts timestamp, html binary, text string, lang string)`.
Pages fall into 100-page domains. Each html body carries `<a href>` anchors
followed by the page text in one `<p>...</p>` block. Besides the intended links,
the anchors include duplicates, self-links and links to urls outside the crawl,
which ingest must drop. The intended edge list is written next to the table
(as page indices, never via html) and is the truth the checks compare against.

Shapes:
  crawl  -- some domains are isolated islands (several components), ~5% of
            pages have no in-crawl out-link (dangling), mild hub skew.
  hubs   -- the crawl shape plus Zipf-skewed links to a few portal pages,
            so one page has an in-degree of a sizeable share of all pages.
  oscillating -- stars and pairs only (see _oscillating); seed-independent.

Output is cached per (shape, pages, seed); nothing here is timed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DOCS = os.path.join(HERE, "data", "documents.parquet")

DOMAIN_PAGES = 100
ISOLATED_SHARE = 0.08
DANGLING_SHARE = 0.05
PORTALS = 16
SHAPES = ["crawl", "hubs", "oscillating"]


def _url(dom, page):
    return "http://www.d%05d.example.com/p/%03d.html" % (dom, page)


def _targets(rng, n, shape):
    """Intended (src, dst) page-index pairs, self-links excluded, duplicates kept."""
    n_dom = n // DOMAIN_PAGES
    dom_of = np.arange(n) // DOMAIN_PAGES
    isolated = rng.random(n_dom) < ISOLATED_SHARE
    isolated[0] = False  # the portals' domain stays connected
    open_pages = np.flatnonzero(~isolated[dom_of])
    # Mild skew on cross-domain targets: popularity ~ 1/(rank+20)^0.6.
    pop = 1.0 / (np.arange(open_pages.size) + 20.0) ** 0.6
    pop = rng.permutation(pop)
    pop /= pop.sum()

    intra = 1 + rng.poisson(5.0, n)
    cross = np.where(isolated[dom_of], 0, rng.poisson(3.0, n))
    src = [np.repeat(np.arange(n), intra)]
    dst = [dom_of[src[0]] * DOMAIN_PAGES + rng.integers(0, DOMAIN_PAGES, src[0].size)]
    s = np.repeat(np.arange(n), cross)
    src.append(s)
    dst.append(open_pages[rng.choice(open_pages.size, s.size, p=pop)])
    if shape == "hubs":
        # Portal links: each open page links up to three portals, Zipf(1.1) choice.
        k = np.where(isolated[dom_of], 0, rng.integers(0, 4, n))
        s = np.repeat(np.arange(n), k)
        z = 1.0 / np.arange(1, PORTALS + 1) ** 1.1
        src.append(s)
        dst.append(rng.choice(PORTALS, s.size, p=z / z.sum()))
    src = np.concatenate(src)
    dst = np.concatenate(dst)
    dangling = rng.random(n) < DANGLING_SHARE
    dangling[:PORTALS] = False
    keep = (src != dst) & ~dangling[src]
    return src[keep], dst[keep]


def _oscillating(n):
    """Groups of eight pages: a star (a hub page linked both ways with five leaf
    pages) and a pair of pages linking each other. Synchronous label propagation
    swaps labels on such bipartite pieces every round and never settles there,
    while an update rule that settles does so within two rounds."""
    src, dst = [], []
    for p in range(0, n - n % 8, 8):
        for leaf in range(p + 1, p + 6):
            src += [leaf, p]
            dst += [p, leaf]
        src += [p + 6, p + 7]
        dst += [p + 7, p + 6]
    return np.array(src), np.array(dst)


def generate(shape, n, seed, out_dir):
    """Write pages.parquet and truth.npz for one table into out_dir (cached)."""
    pages_path = os.path.join(out_dir, "pages.parquet")
    truth_path = os.path.join(out_dir, "truth.npz")
    if os.path.exists(pages_path) and os.path.exists(truth_path):
        return pages_path, truth_path
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, n, SHAPES.index(shape)])
    if shape == "oscillating":
        src, dst = _oscillating(n)
    else:
        src, dst = _targets(rng, n, shape)
    n_dom = n // DOMAIN_PAGES
    # Domain numbers are a seeded permutation, so url order (= the program's
    # vertex ids) interleaves isolated and open domains.
    dom_name = rng.permutation(n_dom * 3)[:n_dom]
    urls = [_url(dom_name[i // DOMAIN_PAGES], i % DOMAIN_PAGES) for i in range(n)]

    # Anchors per page: intended links plus ~10% duplicates, ~5% self-links and
    # ~10% links to urls outside the crawl, in a seeded order.
    dup = rng.random(src.size) < 0.10
    a_src = [src, src[dup]]
    a_dst = [dst, dst[dup]]
    selfp = np.flatnonzero(rng.random(n) < 0.05)
    a_src.append(selfp)
    a_dst.append(selfp)
    ext = np.flatnonzero(rng.random(n) < 0.10)
    a_src.append(ext)
    a_dst.append(-1 - np.arange(ext.size))  # negative = outside the crawl
    a_src = np.concatenate(a_src)
    a_dst = np.concatenate(a_dst)
    order = np.lexsort((rng.random(a_src.size), a_src))
    a_src, a_dst = a_src[order], a_dst[order]
    bounds = np.searchsorted(a_src, np.arange(n + 1))

    docs = pq.read_table(DOCS, columns=["text", "lang"]).to_pydict()
    pick = rng.integers(0, len(docs["text"]), n)
    text = [docs["text"][i] for i in pick]
    lang = [docs["lang"][i] for i in pick]

    html = []
    for p in range(n):
        parts = ["<html><head><title>", urls[p], "</title></head><body>"]
        for d in a_dst[bounds[p]:bounds[p + 1]].tolist():
            u = urls[d] if d >= 0 else "http://ext%d.example.org/x" % (-d)
            parts.append('<a href="%s">link</a>' % u)
        parts += ["<p>", text[p], "</p></body></html>"]
        html.append("".join(parts).encode())
    ts = (np.datetime64("2025-01-01T00:00:00", "us")
          + rng.integers(0, 86400 * 30, n).astype("timedelta64[s]"))
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })
    tmp = pages_path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, n // 8))
    os.replace(tmp, pages_path)
    # Truth edge set as unique url-index pairs, plus the url list itself.
    key = np.unique(src.astype(np.int64) * n + dst)
    np.savez(truth_path + ".tmp.npz", src=key // n, dst=key % n,
             urls=np.array(urls))
    os.replace(truth_path + ".tmp.npz", truth_path)
    return pages_path, truth_path
