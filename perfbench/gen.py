"""Seeded input generators for the two workloads.

Everything here is NumPy + the standard library: no engine code and no
engine fixture is imported, so a change to the engine cannot change the
inputs. Each generator returns plain Python/NumPy structures plus the
facts the reference needs that are known by construction (for pages, the
exact text the extractor must produce).

The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import math

import numpy as np

LANGS = ["en", "de", "fr", "es", "zh"]

# input sizes: every pass stays a few seconds at local[4], so a run fits
# its budget; the work per pass is dominated by per-job overheads anyway
SIZE = {
    "pages": 1_000, "page_dup_frac": 0.08,
    "points": 20_000, "polygons": 80, "queries": 150,
    "docs": 300, "clusters": 20,
}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _vocab(rng: np.random.Generator, n: int, non_ascii_frac: float = 0.0) -> list[str]:
    """Distinct pseudo-words from consonant-vowel syllables."""
    cons = list("bcdfghklmnprstvz")
    vows = list("aeiou")
    extra = ["é", "ü", "ß", "ñ", "ø", "中", "文"]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))] for _ in range(k))
        if rng.random() < 0.5:
            w += cons[rng.integers(len(cons))]
        if rng.random() < non_ascii_frac:
            w += extra[rng.integers(len(extra))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_indices(rng: np.random.Generator, n_vocab: int, size: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n_vocab + 1) ** s
    return rng.choice(n_vocab, size=size, p=p / p.sum())


# ---------------------------------------------------------------------------
# pages_neardup: rich-HTML pages with recrawl duplicates
# ---------------------------------------------------------------------------

_M32 = 0xFFFFFFFF


def _mix(h: int, k: int) -> int:
    k = (k * 0xCC9E2D51) & _M32
    k = ((k << 15) | (k >> 17)) & _M32
    h ^= (k * 0x1B873593) & _M32
    h = ((h << 13) | (h >> 19)) & _M32
    return (h * 5 + 0xE6546B64) & _M32


def spark_bucket(s: str, n_buckets: int) -> int:
    """Bucket of a string key as ``bucketBy(n, key)`` assigns it:
    ``pmod(hash(key), n)``, Spark's Murmur3 x86_32 with seed 42 (its own
    variant: each tail byte, sign-extended, is mixed as a whole word)."""
    b = s.encode("utf-8")
    n, aligned, h = len(b), len(b) - len(b) % 4, 42
    for i in range(0, aligned, 4):
        h = _mix(h, int.from_bytes(b[i:i + 4], "little"))
    for x in b[aligned:]:
        h = _mix(h, (x - 256 if x >= 128 else x) & _M32)
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return (h - (1 << 32) if h >= 1 << 31 else h) % n_buckets

# entity-coded words and what the extractor must turn them into
_ENTITY_WORDS = [
    ("R&amp;D", "R&D"), ("&lt;tag&gt;", "<tag>"), ("&quot;quoted&quot;", '"quoted"'),
    ("it&#39;s", "it's"), ("a&amp;b", "a&b"),
]
# separators between text chunks: runs of tags, whitespace, and script /
# style blocks. Each collapses to exactly one space in the extracted text.
_SEPS = [" ", "\n", "  \t", "</p><p>", "</p>\n<p class=\"x\">", "<br/>", "</li><li>",
         " <b> ", "</span> <span>", "<img src=\"/i.png\" alt=\"\"/>"]


def pages(seed: int, n_urls: int, dup_frac: float) -> dict:
    """Pages table rows plus, per url, the text the extractor must produce
    from the latest crawl of that url."""
    rng = _rng(seed, 1)
    vocab = _vocab(rng, 3000, non_ascii_frac=0.03)
    n_sent = 3000
    sent_html: list[str] = []
    sent_text: list[str] = []
    for _ in range(n_sent):
        idx = _zipf_indices(rng, len(vocab), int(rng.integers(8, 13)))
        hw = [vocab[i] for i in idx]
        tw = list(hw)
        if rng.random() < 0.15:
            j = int(rng.integers(len(hw)))
            e_html, e_text = _ENTITY_WORDS[int(rng.integers(len(_ENTITY_WORDS)))]
            hw[j], tw[j] = e_html, e_text
        sent_html.append(" ".join(hw))
        sent_text.append(" ".join(tw))

    def render(uid: int, version: int) -> tuple[str, str]:
        r = np.random.default_rng([int(seed), 2, uid, version])
        n_par = int(r.integers(30, 46))
        sids = r.integers(0, n_sent, n_par)
        seps = r.integers(0, len(_SEPS), n_par)
        body_h = [sent_html[sids[0]]]
        for s, sep in zip(sids[1:], seps[1:]):
            body_h.append(_SEPS[sep])
            body_h.append(sent_html[s])
        html = (
            f"<html><head><title>page {uid} v{version}</title><meta charset=\"utf-8\"/>"
            f"<style>p{{margin:0;padding:2px}} nav{{display:flex}}</style></head>\n"
            f"<body><nav><a href=\"/\">home</a> | <a href=\"/about\">about</a></nav>"
            f"<h1>Heading {uid}</h1><p>{''.join(body_h)}</p>"
            f"<footer>terms &amp; privacy {version}</footer>"
            f"<script>var x={uid};if(x<3){{track(x);}}</script></body></html>"
        )
        text = (
            f"page {uid} v{version} home | about Heading {uid} "
            + " ".join(sent_text[s] for s in sids)
            + f" terms & privacy {version}"
        )
        return html, text

    hosts = np.minimum(rng.zipf(1.3, n_urls), 500)
    lat = rng.uniform(-80.0, 80.0, n_urls)
    lon = rng.uniform(-180.0, 180.0, n_urls)
    lang = rng.integers(0, len(LANGS), n_urls)
    dup = rng.random(n_urls) < dup_frac
    base_ts = np.datetime64("2024-01-01T00:00:00", "us")

    urls, ts, html_b, langs, lats, lons = [], [], [], [], [], []
    latest_text: list[str] = []
    html_bytes_latest = 0
    for u in range(n_urls):
        url = f"https://host{int(hosts[u])}.example/p/{u}"
        versions = [0, 1] if dup[u] else [0]
        for v in versions:
            h, t = render(u, v)
            hb = h.encode("utf-8")
            urls.append(url)
            ts.append(base_ts + np.timedelta64(u * 137 + v * 2_592_000, "s"))
            html_b.append(hb)
            langs.append(LANGS[lang[u]])
            lats.append(lat[u])
            lons.append(lon[u])
        latest_text.append(t)  # the last version rendered is the latest
        html_bytes_latest += len(hb)
    order = rng.permutation(len(urls))
    rows = {
        "url": [urls[i] for i in order],
        "warc_ts": np.array(ts, dtype="datetime64[us]")[order],
        "html": [html_b[i] for i in order],
        "lang": [langs[i] for i in order],
        "lat": np.asarray(lats)[order],
        "lon": np.asarray(lons)[order],
    }
    return {
        "rows": rows,
        "n_rows": len(urls),
        "url_of": [f"https://host{int(hosts[u])}.example/p/{u}" for u in range(n_urls)],
        "lat": lat,
        "lon": lon,
        "text": latest_text,
        "html_bytes_deduped": html_bytes_latest,
    }


# ---------------------------------------------------------------------------
# points_spatial: skewed point cloud, many-vertex polygons, kNN queries
# ---------------------------------------------------------------------------

SPATIAL_RES = 8  # join resolution: 0.70° x 0.70° cells
KNN_RES = 5


def _star_polygon(rng: np.random.Generator, clat: float, clon: float, radius: float, n_vert: int) -> np.ndarray:
    """Star-shaped (so simple) polygon; lobes make most of them concave.
    Longitudes are wrapped to [-180, 180), so polygons near the
    antimeridian cross it."""
    lobes = int(rng.integers(3, 8))
    amp = float(rng.uniform(0.0, 0.45))
    phase = float(rng.uniform(0, 2 * math.pi))
    theta = np.sort(rng.uniform(0, 2 * math.pi, n_vert))
    r = radius * (1.0 + amp * np.sin(lobes * theta + phase)) * rng.uniform(0.85, 1.0, n_vert)
    lat = np.clip(clat + r * np.sin(theta), -84.0, 84.0)
    lon = clon + r * np.cos(theta) / max(0.2, math.cos(math.radians(clat)))
    lon = (lon + 180.0) % 360.0 - 180.0
    return np.stack([lon, lat], axis=1)


def spatial(seed: int, n_points: int, n_polys: int, n_queries: int) -> dict:
    rng = _rng(seed, 3)
    # the hot mega-cell: one join-resolution cell holding 15% of the points
    nx, ny = 1 << (SPATIAL_RES + 1), 1 << SPATIAL_RES
    hx, hy = int(rng.integers(nx // 4, 3 * nx // 4)), int(rng.integers(ny // 3, 2 * ny // 3))
    cw, ch = 360.0 / nx, 180.0 / ny
    hot_lon0, hot_lat0 = -180.0 + hx * cw, -90.0 + hy * ch

    polys: list[np.ndarray] = []
    for j in range(n_polys):
        n_vert = int(rng.integers(32, 65))
        if j == 0:  # covers the hot cell: a boundary-heavy hot spot
            clat, clon, rad = hot_lat0 + ch * 0.9, hot_lon0 + cw * 0.3, 1.0
        elif j % 15 == 1:  # antimeridian crossers
            clat = float(rng.uniform(-60, 60))
            clon = float(rng.choice([-1.0, 1.0]) * rng.uniform(178.5, 179.8))
            rad = float(rng.uniform(1.0, 3.0))
        else:
            clat, clon = float(rng.uniform(-70, 70)), float(rng.uniform(-180, 180))
            rad = float(rng.uniform(0.5, 3.0))
        polys.append(_star_polygon(rng, clat, clon, rad, n_vert))

    n_hot = int(0.15 * n_points)
    n_coast = int(0.20 * n_points)
    n_polar = int(0.04 * n_points)
    n_anti = int(0.04 * n_points)
    n_uni = n_points - n_hot - n_coast - n_polar - n_anti
    lat_parts, lon_parts = [], []
    # uniform background
    lat_parts.append(rng.uniform(-85.0, 85.0, n_uni))
    lon_parts.append(rng.uniform(-180.0, 180.0, n_uni))
    # hot cell
    lat_parts.append(hot_lat0 + rng.uniform(0.001, 0.999, n_hot) * ch)
    lon_parts.append(hot_lon0 + rng.uniform(0.001, 0.999, n_hot) * cw)
    # coastal clusters: jittered around vertices of 40 polygons' boundaries
    coast_polys = rng.choice(n_polys, size=min(40, n_polys), replace=False)
    pick = rng.choice(coast_polys, n_coast)
    la, lo = np.empty(n_coast), np.empty(n_coast)
    for j in np.unique(pick):
        m = pick == j
        ring = polys[j]
        v = rng.integers(0, len(ring), int(m.sum()))
        t = rng.random(int(m.sum()))
        a, b = ring[v], ring[(v + 1) % len(ring)]
        dlon = b[:, 0] - a[:, 0]
        dlon = np.where(dlon > 180, dlon - 360, np.where(dlon < -180, dlon + 360, dlon))
        lo[m] = a[:, 0] + t * dlon + rng.normal(0, 0.05, int(m.sum()))
        la[m] = a[:, 1] + t * (b[:, 1] - a[:, 1]) + rng.normal(0, 0.05, int(m.sum()))
    lat_parts.append(np.clip(la, -89.9, 89.9))
    lon_parts.append((lo + 180.0) % 360.0 - 180.0)
    # poles, a few exactly at +-90
    pl = rng.uniform(88.0, 90.0, n_polar) * rng.choice([-1.0, 1.0], n_polar)
    pl[:4] = [90.0, -90.0, 90.0, -90.0]
    lat_parts.append(pl)
    lon_parts.append(rng.uniform(-180.0, 180.0, n_polar))
    # antimeridian strip
    lat_parts.append(rng.uniform(-70.0, 70.0, n_anti))
    side = rng.random(n_anti) < 0.5
    lon_parts.append(np.where(side, rng.uniform(179.95, 179.9999, n_anti), rng.uniform(-179.9999, -179.95, n_anti)))

    lat = np.concatenate(lat_parts)
    lon = np.concatenate(lon_parts)
    order = rng.permutation(n_points)
    lat, lon = lat[order], lon[order]
    point_id = rng.permutation(n_points).astype(np.int64) * 7 + 3

    # kNN queries: a few in the hot cell, many on the coastal clusters,
    # sparse ones anywhere, and a handful at high latitude, where a ring is
    # narrow in metres and has to escalate over several rounds
    n_hotq, n_polq = 6, 4
    n_clq = int(0.5 * n_queries)
    n_spq = n_queries - n_hotq - n_polq - n_clq
    qlat = np.concatenate([
        hot_lat0 + rng.uniform(0.05, 0.95, n_hotq) * ch,
        np.clip(lat_parts[2][rng.integers(0, n_coast, n_clq)] + rng.normal(0, 0.02, n_clq), -89.9, 89.9),
        rng.uniform(-80.0, 80.0, n_spq),
        rng.uniform(55.0, 58.0, n_polq) * np.where(np.arange(n_polq) % 2 == 0, 1.0, -1.0),
    ])
    qlon = np.concatenate([
        hot_lon0 + rng.uniform(0.05, 0.95, n_hotq) * cw,
        (lon_parts[2][rng.integers(0, n_coast, n_clq)] + rng.normal(0, 0.02, n_clq) + 180.0) % 360.0 - 180.0,
        rng.uniform(-180.0, 180.0, n_spq),
        rng.uniform(-180.0, 180.0, n_polq),
    ])
    return {
        "point_id": point_id,
        "lat": lat,
        "lon": lon,
        "polygons": [{"poly_id": str(j), "rings": [p]} for j, p in enumerate(polys)],
        "query_id": np.arange(n_queries, dtype=np.int64),
        "qlat": qlat,
        "qlon": qlon,
    }


# ---------------------------------------------------------------------------
# pages_neardup: documents with planted near-duplicate clusters
# ---------------------------------------------------------------------------


def _grams(words: list[str]) -> set[str]:
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def documents(seed: int, n_docs: int, n_clusters: int) -> dict:
    """Documents (doc_id, text, lang, source, n_chars). Cluster members are
    exact copies of the cluster's base (word-3-gram Jaccard 1) or edited
    variants with well-spaced same-length word substitutions (Jaccard
    <= 0.72 against every other member). No pair lands in [0.72, 1)."""
    rng = _rng(seed, 4)
    vocab = _vocab(rng, 6000)
    by_len: dict[int, list[int]] = {}
    for i, w in enumerate(vocab):
        by_len.setdefault(len(w), []).append(i)

    def fresh(n_words: int) -> list[int]:
        return list(_zipf_indices(rng, len(vocab), n_words, s=0.9))

    def variant(base: list[int]) -> list[int] | None:
        n = len(base)
        k = max(4, math.ceil(0.08 * n))
        slots = np.arange(1, n - 1, 3)
        if len(slots) < k:
            return None
        pos = rng.choice(slots, k, replace=False)
        out = list(base)
        for p in pos:
            same = by_len[len(vocab[out[p]])]
            out[p] = same[int(rng.integers(len(same)))]
        return out

    sizes = rng.choice([2, 3, 4, 6, 8, 12], n_clusters, p=[0.3, 0.25, 0.2, 0.12, 0.08, 0.05])
    docs: list[list[int]] = []
    langs: list[int] = []
    for size in sizes:
        base = fresh(int(rng.integers(40, 81)))
        lang = int(rng.integers(len(LANGS)))
        members = [base]
        while len(members) < size:
            if rng.random() < 0.45:
                members.append(list(base))
                continue
            v = variant(base)
            if v is None:
                continue
            gv = _grams([vocab[i] for i in v])
            if all(
                m == v or (lambda gm: len(gm & gv) / max(1, len(gm | gv)) <= 0.72)(_grams([vocab[i] for i in m]))
                for m in members
            ):
                members.append(v)
        docs.extend(members)
        langs.extend([lang] * len(members))
    while len(docs) < n_docs:
        docs.append(fresh(int(rng.integers(40, 81))))
        langs.append(int(rng.integers(len(LANGS))))
    docs = docs[:n_docs]
    langs = langs[:n_docs]
    texts = [" ".join(vocab[i] for i in d) for d in docs]
    order = rng.permutation(n_docs)
    doc_id = rng.permutation(n_docs).astype(np.int64) * 3 + 1
    return {
        "doc_id": doc_id,
        "text": [texts[i] for i in order],
        "lang": [LANGS[langs[i]] for i in order],
        "source": [f"src{int(i) % 7}" for i in order],
        "n_chars": np.array([len(texts[i]) for i in order], dtype=np.int64),
    }
