"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (seed, size). The program only ever
sees the generated files; each generator also returns the expectation
the output checks compare against, computed here from the generated
values and never by the program under test.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# pbf_tiles: a synthetic multi-blob city extract
# ---------------------------------------------------------------------------

# tags the program's way filter accepts (bridge key, coastline, water)
_MATCH_TAGS = (
    {"natural": "water"},
    {"natural": "lake"},
    {"landuse": "reservoid"},
    {"waterway": "riverbank"},
)
_DECOY_TAGS = (
    {"highway": "residential"},
    {"building": "yes"},
    {"landuse": "reservoir"},  # the correct spelling does NOT match
    {"natural": "wood"},
)
ZOOM = 14
TILE_PX = 256


def _tile_xy(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """Fractional slippy tile coordinates, the same formula as the
    renderer's fan-out (raster.ops._merc_x/_merc_y)."""
    n = float(1 << zoom)
    x = (lon + 180.0) / 360.0 * n
    rad = np.radians(np.clip(lat, -85.0511287798066, 85.0511287798066))
    y = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * n
    return x, y


class _Extract:
    """Accumulates OSM entities with integer-nanodegree coordinates."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.nodes: list[tuple] = []  # (id, lat, lon, tags)
        self.ways: list[tuple] = []  # (id, refs, tags)
        self.rels: list[tuple] = []  # (id, members, tags)
        self.coords: dict[int, tuple[float, float]] = {}
        self._nid = 1000
        self._wid = 10_000
        self._rid = 500

    def node(self, lat: float, lon: float, tags=None) -> int:
        nid = self._nid
        self._nid += 1 + int(self.rng.integers(0, 5))
        # round-trip through nanodegrees so the checks see what decodes
        lat = math.floor(lat * 1e9 + 0.5) * 1e-9
        lon = math.floor(lon * 1e9 + 0.5) * 1e-9
        self.nodes.append((nid, lat, lon, tags or {}))
        self.coords[nid] = (lat, lon)
        return nid

    def way(self, pts, tags, closed=False) -> int:
        refs = [self.node(la, lo) for la, lo in pts]
        if closed:
            refs.append(refs[0])
        wid = self._wid
        self._wid += 1 + int(self.rng.integers(0, 3))
        self.ways.append((wid, refs, dict(tags)))
        return wid

    def relation(self, way_ids, tags) -> None:
        members = [{"type": "WAY", "ref": w, "role": "outer"} for w in way_ids]
        self.rels.append((self._rid, members, dict(tags)))
        self._rid += 1


def _safe(pts, zoom: int) -> bool:
    """No vertex within 1e-6 tile units of a tile edge: keeps the
    expected tile set independent of last-ulp differences between the
    JVM's and numpy's log/tan."""
    a = np.asarray(pts)
    x, y = _tile_xy(a[:, 1], a[:, 0], zoom)
    fx, fy = x - np.floor(x), y - np.floor(y)
    eps = 1e-6
    return bool(
        np.all((fx > eps) & (fx < 1 - eps)) and np.all((fy > eps) & (fy < 1 - eps))
    )


def _inside(lat, lon, bbox, margin=0.0) -> bool:
    la0, lo0, la1, lo1 = bbox
    return la0 + margin < lat < la1 - margin and lo0 + margin < lon < lo1 - margin


def _ring(rng, clat, clon, r, k):
    ang = np.sort(rng.uniform(0, 2 * math.pi, k))
    rad = r * rng.uniform(0.6, 1.0, k)
    return [(clat + a * math.sin(t), clon + a * math.cos(t) * 1.4) for t, a in zip(ang, rad)]


def _add_bulk(ex: _Extract, rng: np.random.Generator, bbox, n_ways: int) -> None:
    """``n_ways`` closed decoy ways of 4–7 nodes (buildings, roads,
    woods; tags the way filter rejects) and ``2 * n_ways`` POI nodes,
    scattered over the city bbox grown by half its span on every side,
    so about a quarter of them fall inside the city. Generated as
    arrays: the bulk is most of the extract's bytes."""
    la0, lo0, la1, lo1 = bbox
    d_la, d_lo = (la1 - la0) / 2, (lo1 - lo0) / 2
    k = rng.integers(4, 8, n_ways)
    n_way_nodes = int(k.sum())
    n_pois = 2 * n_ways
    n = n_way_nodes + n_pois
    ids = ex._nid + np.cumsum(1 + rng.integers(0, 3, n))
    ex._nid = int(ids[-1]) + 1
    clat = rng.uniform(la0 - d_la, la1 + d_la, n_ways)
    clon = rng.uniform(lo0 - d_lo, lo1 + d_lo, n_ways)
    ang = rng.uniform(0, 2 * math.pi, n_way_nodes)
    r = rng.uniform(0.0002, 0.0012, n_way_nodes)
    owner = np.repeat(np.arange(n_ways), k)
    lat = np.concatenate([clat[owner] + r * np.sin(ang), rng.uniform(la0 - d_la, la1 + d_la, n_pois)])
    lon = np.concatenate([clon[owner] + r * np.cos(ang) * 1.4, rng.uniform(lo0 - d_lo, lo1 + d_lo, n_pois)])
    poi = rng.random(n_pois) < 0.3
    for j, (nid, la, lo) in enumerate(zip(ids.tolist(), lat.tolist(), lon.tolist())):
        tags = {"amenity": "bench"} if j >= n_way_nodes and poi[j - n_way_nodes] else {}
        ex.nodes.append((nid, la, lo, tags))
    starts = np.concatenate([[0], np.cumsum(k)[:-1]])
    wids = ex._wid + np.cumsum(1 + rng.integers(0, 3, n_ways))
    ex._wid = int(wids[-1]) + 1
    tag_idx = rng.integers(0, len(_DECOY_TAGS), n_ways)
    node_ids = ids[:n_way_nodes]
    for wid, s, kk, t in zip(wids.tolist(), starts.tolist(), k.tolist(), tag_idx.tolist()):
        refs = node_ids[s : s + kk].tolist()
        ex.ways.append((wid, refs + refs[:1], dict(_DECOY_TAGS[t])))


def make_extract(seed: int, city_deg: float, density: int, bulk: int):
    """(entities, city, expected) for a seeded one-city extract.

    The city bbox holds water polygons, riverbanks, coastline chains
    and bridges the renderer must draw, plus decoy ways and POI nodes
    it must skip, ways that straddle the bbox edge, and multipolygon
    relations — some over matching ways (their tags merge in), some over
    decoys (they must stay out: the way filter runs before the merge).
    Matching ways also sit in the countryside outside the city. Then
    ``bulk`` decoy buildings and roads, and twice as many POI nodes, fill
    the region around and inside the city (see ``_add_bulk``): the bytes
    a real extract spends on what the renderer never draws.

    ``expected`` holds the matched way count and the set of z14
    tiles the matched ways' bounding boxes cover."""
    rng = np.random.default_rng(seed)
    ex = _Extract(rng)
    base_lat = float(rng.uniform(35.0, 55.0))
    base_lon = float(rng.uniform(-5.0, 25.0))
    la0 = base_lat + float(rng.uniform(0, city_deg))
    lo0 = base_lon + float(rng.uniform(0, city_deg))
    la1, lo1 = la0 + city_deg, lo0 + city_deg * 1.4
    city = {"name": "city0", "bbox": [la0, lo0, la1, lo1]}
    bbox = city["bbox"]
    matched: list[int] = []

    def add(pts, tags, closed, must_match=False):
        pts = list(pts)
        if not _safe(pts, ZOOM):
            return None
        wid = ex.way(pts, tags, closed)
        if must_match:
            matched.append(wid)
        return wid

    span_la, span_lo = la1 - la0, lo1 - lo0
    m = 0.05 * span_la  # keep "inside" vertices clear of the edge

    def rand_pt():
        return (
            float(rng.uniform(la0 + m, la1 - m)),
            float(rng.uniform(lo0 + m, lo1 - m)),
        )

    water_ids = []
    for _ in range(density):
        clat, clon = rand_pt()
        r = span_la * float(rng.uniform(0.005, 0.03))
        tags = _MATCH_TAGS[int(rng.integers(0, len(_MATCH_TAGS)))]
        pts = _ring(rng, clat, clon, r, int(rng.integers(5, 14)))
        if all(_inside(la, lo, bbox, 1e-6) for la, lo in pts):
            wid = add(pts, tags, True, True)
            if wid is not None:
                water_ids.append(wid)
    for _ in range(max(1, density // 8)):
        # coastline chain: a random walk that crosses the city
        lat, lon = rand_pt()
        pts = [(lat, lon)]
        for _k in range(int(rng.integers(10, 40))):
            lat += float(rng.normal(0, span_la * 0.02))
            lon += float(rng.normal(0, span_lo * 0.02))
            pts.append((lat, lon))
        if _inside(*pts[0], bbox, m / 2):
            add(pts, {"natural": "coastline"}, False, True)
    for _ in range(max(1, density // 4)):
        lat, lon = rand_pt()
        pts = [(lat, lon), (lat + span_la * 0.01, lon + span_lo * float(rng.uniform(-0.02, 0.02)))]
        if _inside(*pts[1], bbox, 1e-6):
            add(pts, {"bridge": "yes", "highway": "primary"}, False, True)
    for _ in range(max(1, density // 10)):
        # straddles the north edge: one vertex inside is enough
        lon = float(rng.uniform(lo0 + m, lo1 - m))
        pts = [(la1 - m, lon), (la1 + span_la * 0.1, lon), (la1 + span_la * 0.1, lon + span_lo * 0.05)]
        add(pts, {"natural": "water"}, True, True)
    decoys = []
    for _ in range(density * 3):
        clat, clon = rand_pt()
        tags = _DECOY_TAGS[int(rng.integers(0, len(_DECOY_TAGS)))]
        wid = add(_ring(rng, clat, clon, span_la * 0.01, 4), tags, True)
        if wid is not None:
            decoys.append(wid)
    for _ in range(density * 6):
        ex.node(*rand_pt(), tags={"amenity": "bench"} if rng.random() < 0.3 else None)
    # relations: over matching ways (tags merge), over decoys (no effect)
    for k in range(0, min(len(water_ids), 3 * max(1, density // 10)), 3):
        ex.relation(water_ids[k : k + 3], {"type": "multipolygon", "name": f"lake {k}"})
    for k in range(0, min(len(decoys), 3 * max(1, density // 10)), 3):
        ex.relation(decoys[k : k + 3], {"type": "multipolygon", "natural": "water"})

    # countryside: matching ways and POIs outside the city bbox
    for _ in range(density * 2):
        clat = float(rng.uniform(base_lat - 1.0, base_lat - 0.2))
        clon = float(rng.uniform(base_lon, lo1))
        add(_ring(rng, clat, clon, 0.002, 6), {"natural": "water"}, True)
    for _ in range(density * 4):
        ex.node(float(rng.uniform(la1 + 0.2, la1 + 1.0)), float(rng.uniform(base_lon, lo1)))
    # a generator of its own, so the bulk changes no entity above
    _add_bulk(ex, np.random.default_rng([seed, 1]), bbox, bulk)

    refs_of = {wid: refs for wid, refs, _t in ex.ways}
    tiles: set[tuple[int, int]] = set()
    n = 1 << ZOOM
    for wid in matched:
        pts = np.array([ex.coords[r] for r in refs_of[wid]])
        x, y = _tile_xy(pts[:, 1], pts[:, 0], ZOOM)
        tx0, tx1 = (int(min(max(math.floor(v), 0), n - 1)) for v in (x.min(), x.max()))
        ty0, ty1 = (int(min(max(math.floor(v), 0), n - 1)) for v in (y.min(), y.max()))
        tiles.update((tx, ty) for tx in range(tx0, tx1 + 1) for ty in range(ty0, ty1 + 1))
    return ex, city, {"n_ways": len(matched), "tiles": tiles}


def write_extract(path: str, ex: _Extract, block_size: int) -> None:
    from osm_render_spark.sources.pbf import write_pbf

    tmp = path + ".tmp"
    write_pbf(tmp, ex.nodes, ex.ways, ex.rels, block_size=block_size)
    os.replace(tmp, path)


def tree_digest(root: str) -> tuple[str, int]:
    """(sha256 over sorted relative paths and file bytes, file count)."""
    h = hashlib.sha256()
    files = []
    for dirpath, _dirs, names in os.walk(root):
        for fn in names:
            files.append(os.path.join(dirpath, fn))
    for p in sorted(files):
        with open(p, "rb") as f:
            data = f.read()
        h.update(os.path.relpath(p, root).encode() + b"\0" + hashlib.sha256(data).digest())
    return h.hexdigest()[:16], len(files)


# ---------------------------------------------------------------------------
# curation: an image+caption corpus with planted curation events
# ---------------------------------------------------------------------------



def corpus_rows(ids, base: int, w: int = 48, h: int = 48) -> pd.DataFrame:
    """Rows of the curation corpus, following the planted-event rules of
    fixtures.images.pipeline_corpus_df on the global row index
    ``j = base + i`` (``base`` comes from the seed, so every seed draws
    different pixels and captions):

    - ``j % 10 == 9``  exact caption duplicate of row j-1;
    - ``j % 13 == 12`` progressive/baseline JPEG carrying row j-1's
      pixels and its phash with 2 bits flipped (a near-duplicate);
    - ``j % 17 == 16`` the ``w`` column lies by one (dims-corrupt);
    - ``j % 4 == 3``   JPEG rows are progressive; others alternate PNG
      and baseline JPEG."""
    from osm_render_spark.fixtures.images import MODES, image_pixels
    from osm_render_spark.raster.codec import encode_image, phash64
    from osm_render_spark.raster.jpeg import encode_progressive_jpeg

    def salted(j):
        # coarse per-image blocks keep unrelated images' phashes apart
        img = image_pixels(j, w, h).copy()
        by = np.arange(h)[:, None] // 12
        bx = np.arange(w)[None, :] // 12
        rr = (by * 131 + bx * 197 + j * 911) % 251
        for c in range(3):
            img[:, :, c] = ((img[:, :, c].astype(np.int64) + (rr * (c + 3)) % 173) % 256).astype(np.uint8)
        return img

    rows = []
    for i in ids:
        j = base + int(i)
        near = j % 13 == 12
        img = salted(j - 1 if near else j)
        fmt = "jpeg" if (near or j % 2 == 1) else "png"
        if fmt == "jpeg" and j % 4 == 3:
            data = encode_progressive_jpeg(img, 90, "444")
        else:
            data = encode_image(img, fmt)
        ph = phash64(img)
        if near:
            u = (ph & ((1 << 64) - 1)) ^ ((1 << (j % 60)) | (1 << ((j * 7 + 11) % 60)))
            ph = u - (1 << 64) if u >= 1 << 63 else u
        cap = j - 1 if j % 10 == 9 else j
        caption = f"scene {cap % 7} tile z{4 + cap % 5} variant {MODES[cap % 4]} row {cap}"
        w_claim = w + 1 if j % 17 == 16 else w
        rows.append((f"img{j:012d}", data, w_claim, h, fmt, caption, ph))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"])


def corpus_base(seed: int) -> int:
    return (seed * 7_919 + 1) * 10_000


_CORPUS_SCHEMA = [
    ("image_id", "string"), ("bytes", "binary"), ("w", "int32"), ("h", "int32"),
    ("fmt", "string"), ("caption", "string"), ("phash", "int64"),
]


# the same columns as a Spark DDL string, so a reader needs no schema inference
CORPUS_DDL = ", ".join(f"{c} {t.replace('int32', 'int').replace('int64', 'bigint')}" for c, t in _CORPUS_SCHEMA)


def write_corpus(path: str, n: int, seed: int, n_files: int, n_procs: int) -> pd.DataFrame:
    """Encode the corpus in ``n_procs`` child processes (no Spark:
    staging must not warm the session it is staged for) as ``n_files``
    parquet parts of consecutive rows. Returns the rows without pixels."""
    import subprocess
    import sys

    import pyarrow.parquet as pq

    tmp = f"{path}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    parts = [f"{k}:{bounds[k]}:{bounds[k + 1]}" for k in range(n_files)]
    procs = [
        subprocess.Popen([sys.executable, "-m", "perfbench.inputs", tmp, str(seed), *parts[i::n_procs]])
        for i in range(min(n_procs, n_files))
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"corpus generation failed: exit codes {codes}")
    os.replace(tmp, path)
    cols = [c for c, _t in _CORPUS_SCHEMA if c != "bytes"]
    return pq.read_table(path, columns=cols).to_pandas()


def _write_parts(out_dir: str, seed: int, parts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([(c, getattr(pa, t)()) for c, t in _CORPUS_SCHEMA])
    for spec in parts:
        k, a, b = (int(v) for v in spec.split(":"))
        df = corpus_rows(range(a, b), corpus_base(seed))
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))


def expected_kept(meta: pd.DataFrame, true_w: int = 48, max_hamming: int = 3) -> set[str]:
    """Image ids the curation stages must keep, derived from the corpus
    values alone: drop dims-corrupt rows, keep the minimum id per exact
    caption, and keep the minimum id per connected component of the
    phash graph (edges: Hamming distance <= max_hamming)."""
    ok = meta[meta["w"] == true_w].sort_values("image_id").reset_index(drop=True)
    cap_keep = set(ok.groupby("caption")["image_id"].min())
    ids = ok["image_id"].tolist()
    ph = ok["phash"].to_numpy(dtype=np.int64).view(np.uint64)
    parent = list(range(len(ids)))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    x = ph[:, None] ^ ph[None, :]
    popcount = np.array([bin(v).count("1") for v in range(256)], dtype=np.int64)
    dist = sum(popcount[((x >> np.uint64(8 * b)) & np.uint64(0xFF)).astype(np.intp)] for b in range(8))
    a_idx, b_idx = np.nonzero(np.triu(dist <= max_hamming, k=1))
    for a, b in zip(a_idx.tolist(), b_idx.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # ids are sorted: min index = min id
    img_keep = {ids[i] for i in range(len(ids)) if find(i) == i}
    return cap_keep & img_keep


if __name__ == "__main__":
    # child of write_corpus: python -m perfbench.inputs OUT_DIR SEED K:START:STOP...
    import sys

    _write_parts(sys.argv[1], int(sys.argv[2]), sys.argv[3:])
