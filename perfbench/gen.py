"""Seed-driven inputs for the benchmark workloads, plus the truth each
workload's output is checked against.

Everything here runs in the benchmark's own process with numpy, pandas
and pyarrow; the program under test only ever sees the files and DataFrames these functions produce.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nominatimwrapper_spark import synth
from nominatimwrapper_spark.functions.text import extract_text

BASE_DAY = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)
PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_PROSE = (
    "horaires ouverture contact info menu accueil actualités services "
    "openingsuren nieuws diensten welkom over ons contacteer prijs "
    "about services news opening hours contact us terms privacy"
).split()
_LANGS = np.array(["fr", "nl", "en"])


def gazetteer(seed: int) -> pd.DataFrame:
    return synth.gen_gazetteer(seed=seed)


def write_gazetteer(gaz: pd.DataFrame, path: str) -> str:
    """Write the gazetteer as one parquet file; returns its path."""
    os.makedirs(path, exist_ok=True)
    synth.write_world(path, {"gazetteer": gaz})
    return os.path.join(path, "gazetteer.parquet")


def houses(gaz: pd.DataFrame) -> pd.DataFrame:
    return gaz[gaz.place_rank == 30].reset_index(drop=True)


def address_pool(rng: np.random.Generator, gaz: pd.DataFrame, n: int) -> pd.DataFrame:
    """``n`` distinct gazetteer houses; row 0 is the hot address."""
    h = houses(gaz)
    return h.iloc[rng.choice(len(h), size=min(n, len(h)), replace=False)].reset_index(drop=True)


def _html(i: int, line: str, prose: str, tel: int) -> bytes:
    return (
        f"<html><head><title>Page {i}</title><style>p{{margin:0}}</style>"
        f"<script>var x = '<p>decoy</p>';</script></head>"
        f"<body><!-- comment {i} --><nav>menu &amp; liens</nav>"
        f"<p>Adresse: {line}</p><p>{prose}</p>"
        f"<p>t&eacute;l: 02/{tel // 100}.{tel % 100:02d}</p></body></html>"
    ).encode("utf-8")


def pages(
    rng: np.random.Generator,
    pool: pd.DataFrame,
    n: int,
    hot_frac: float,
    url_prefix: str,
) -> pd.DataFrame:
    """``n`` pages, each embedding exactly one pool address verbatim
    (``hot_frac`` of them the hot row 0). Columns: the pages table plus
    ``place_id``, the house each page names."""
    pick = np.where(
        rng.random(n) < hot_frac, 0, rng.integers(1, len(pool), size=n)
    )
    langs = _LANGS[rng.integers(0, 3, size=n)]
    words = rng.integers(0, len(_PROSE), size=(n, 12))
    tels = rng.integers(10000, 99999, size=n)
    sites = rng.integers(0, max(10, n // 6), size=n)
    fr = pool.name_fr.to_numpy()
    nl = pool.name_nl.to_numpy()
    hn = pool.house_number.to_numpy()
    pc = pool.post_code.to_numpy()
    city = pool.city.to_numpy()
    urls, htmls = [], []
    for i in range(n):
        j = pick[i]
        street = nl[j] if (langs[i] == "nl" and nl[j]) else fr[j]
        line = f"{street} {hn[j]}, {pc[j]} {city[j]}"
        prose = " ".join(_PROSE[w] for w in words[i])
        urls.append(f"https://site-{sites[i]}.example.be/{url_prefix}-{i}.html")
        htmls.append(_html(i, line, prose, int(tels[i])))
    return pd.DataFrame(
        {
            "url": urls,
            "html": htmls,
            "lang": langs,
            "place_id": pool.place_id.to_numpy()[pick].astype(np.int64),
        }
    )


def _finish(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["text"] = [extract_text(h) for h in df["html"]]
    return df


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(
        df[["url", "warc_ts", "html", "text", "lang"]], schema=PAGE_SCHEMA,
        preserve_index=False,
    )
    pq.write_table(table, path)


def crawl_table(
    rng: np.random.Generator,
    pool: pd.DataFrame,
    path: str,
    n_pages: int,
    n_parts: int = 8,
    hot_frac: float = 0.3,
    recrawl_frac: float = 0.03,
) -> pd.DataFrame:
    """Write a ``crawl_date=``-partitioned pages table under ``path``.

    ``recrawl_frac`` of urls get a second, later crawl in the same
    partition that names a different house; the latest crawl is the
    truth. Returns the truth: one row per url with its expected
    ``place_id``."""
    base = pages(rng, pool, n_pages, hot_frac, "p")
    day = rng.integers(0, n_parts, size=n_pages)
    minute = rng.integers(0, 12 * 60, size=n_pages)
    base["warc_ts"] = [
        BASE_DAY + dt.timedelta(days=int(d), minutes=int(m)) for d, m in zip(day, minute)
    ]
    base["day"] = day
    n_re = int(n_pages * recrawl_frac)
    src = rng.choice(n_pages, size=n_re, replace=False)
    again = pages(rng, pool, n_re, hot_frac, "r")
    rec = base.iloc[src].reset_index(drop=True)
    rec["html"] = again["html"]
    rec["lang"] = again["lang"]
    rec["place_id"] = again["place_id"]
    rec["warc_ts"] = [
        t + dt.timedelta(minutes=int(m))
        for t, m in zip(rec["warc_ts"], rng.integers(1, 11 * 60, size=n_re))
    ]
    allp = _finish(pd.concat([base, rec], ignore_index=True))
    for d in range(n_parts):
        part = os.path.join(path, f"crawl_date={(BASE_DAY + dt.timedelta(days=d)).date()}")
        os.makedirs(part)
        _write(allp[allp.day == d], os.path.join(part, "part-00000.parquet"))
    latest = allp.sort_values("warc_ts").drop_duplicates("url", keep="last")
    return latest[["url", "place_id"]].reset_index(drop=True)


def stream_files(
    rng: np.random.Generator,
    pool: pd.DataFrame,
    path: str,
    n_files: int,
    pages_per_file: tuple[int, int],
    hot_frac: float = 0.3,
    recrawl_frac: float = 0.03,
) -> pd.DataFrame:
    """Write ``n_files`` pages files under ``path`` in arrival order
    (modification times one second apart). ``recrawl_frac`` of each
    file's rows re-deliver a url first seen in an EARLIER file with a
    different house; the stream keeps the first arrival, which is the
    truth. Returns the truth: one row per url with its ``place_id``."""
    os.makedirs(path)
    seen: list[str] = []
    first: list[pd.DataFrame] = []
    t0 = 1_700_000_000
    for f in range(n_files):
        n = int(rng.integers(pages_per_file[0], pages_per_file[1] + 1))
        df = pages(rng, pool, n, hot_frac, f"s{f}")
        df["warc_ts"] = BASE_DAY + dt.timedelta(hours=f)
        fresh = df
        if seen:
            k = min(int(n * recrawl_frac), len(seen))
            old = rng.choice(len(seen), size=k, replace=False)
            df = df.copy()
            df.loc[: k - 1, "url"] = [seen[o] for o in old]
            fresh = df.iloc[k:]
        first.append(fresh[["url", "place_id"]])
        seen.extend(fresh["url"])
        fp = os.path.join(path, f"{f:04d}.parquet")
        _write(_finish(df), fp)
        os.utime(fp, (t0 + f, t0 + f))
    return pd.concat(first, ignore_index=True)


def page_failures(got: pd.DataFrame, truth: pd.DataFrame) -> int:
    """Pages whose output is wrong: a truth url with no row, more than one
    row or another ``place_id``, plus every url the truth does not hold."""
    g = got.groupby("url").place_id.agg(["count", "first"])
    t = truth.set_index("url").place_id
    mine = g.reindex(t.index)
    ok = (mine["count"] == 1) & (mine["first"] == t)
    return int((~ok).sum()) + int((~g.index.isin(t.index)).sum())


# ---------------------------------------------------------------------------
# spatial
# ---------------------------------------------------------------------------


def points(rng: np.random.Generator, n: int, hot_frac: float = 0.3) -> pd.DataFrame:
    """``n`` points around the synthetic cities; ``hot_frac`` of them sit
    within a metre of one H3 res-9 cell centre in the hot city."""
    from nominatimwrapper_spark.functions.h3 import cell_to_latlng, latlng_to_cell

    cities = synth.CITIES
    w = np.array([c[5] for c in cities])
    ci = rng.choice(len(cities), size=n, p=w / w.sum())
    lat = np.array([c[3] for c in cities])[ci] + rng.normal(0, 0.02, n)
    lon = np.array([c[4] for c in cities])[ci] + rng.normal(0, 0.03, n)
    hot = rng.random(n) < hot_frac
    hc = latlng_to_cell(np.array([cities[0][3]]), np.array([cities[0][4]]), 9)
    hlat, hlon = cell_to_latlng(hc)
    lat[hot] = hlat[0] + rng.uniform(-1e-5, 1e-5, hot.sum())
    lon[hot] = hlon[0] + rng.uniform(-1e-5, 1e-5, hot.sum())
    return pd.DataFrame({"pt_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon})


def pip_truth(pts: pd.DataFrame, polys: pd.DataFrame) -> pd.Series:
    """Even-odd ray cast, numpy over all points per polygon: poly_id per
    pt_id for every point inside a polygon (the synthetic polygons do not
    overlap)."""
    px = pts.lon.to_numpy()
    py = pts.lat.to_numpy()
    owner = np.full(len(pts), -1, dtype=np.int64)
    for pid, xy, offs in zip(polys.poly_id, polys.ring_xy, polys.ring_offsets):
        xy = np.asarray(xy, dtype=np.float64)
        inside = np.zeros(len(pts), dtype=bool)
        for a, b in zip(offs[:-1], offs[1:]):
            xs, ys = xy[a:b:2], xy[a + 1 : b : 2]
            for x1, y1, x2, y2 in zip(xs, ys, np.roll(xs, -1), np.roll(ys, -1)):
                straddle = (y1 > py) != (y2 > py)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xi = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
                inside ^= straddle & (xi > px)
        owner[inside] = pid
    s = pd.Series(owner, index=pts.pt_id.to_numpy())
    return s[s >= 0]


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance on the IUGG mean-radius sphere."""
    r = np.radians
    dlat = r(lat2) - r(lat1)
    dlon = r(lon2) - r(lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(r(lat1)) * np.cos(r(lat2)) * np.sin(dlon / 2) ** 2
    return 2 * 6371.0088 * np.arcsin(np.sqrt(a))


def knn_truth(q: pd.DataFrame, targets: pd.DataFrame, k: int) -> np.ndarray:
    """Brute-force haversine: (n_queries, k) sorted neighbour distances,
    rows in ``q`` order."""
    d = haversine_km(
        q.lat.to_numpy()[:, None], q.lon.to_numpy()[:, None],
        targets.lat.to_numpy()[None, :], targets.lon.to_numpy()[None, :],
    )
    return np.sort(d, axis=1)[:, :k]


def h3_parent(cells: np.ndarray, res: int) -> np.ndarray:
    """H3 parent by the published bit layout: resolution nibble at bit 52,
    3-bit digits below it, unused digits set to 7."""
    c = cells.astype(np.uint64)
    fill = np.uint64((1 << ((15 - res) * 3)) - 1)
    res_mask = np.uint64(0xF) << np.uint64(52)
    return ((c & ~res_mask) | (np.uint64(res) << np.uint64(52)) | fill).astype(np.int64)


def pip_ok(got: pd.DataFrame, truth: pd.Series) -> bool:
    """The join's (pt_id, poly_id) rows are exactly the ray-cast truth."""
    s = got.set_index("pt_id").poly_id.sort_index()
    t = truth.sort_index()
    return s.index.is_unique and s.index.equals(t.index) and bool(
        (s.to_numpy() == t.to_numpy()).all()
    )


def knn_ok(got: pd.DataFrame, q_ids: np.ndarray, truth: np.ndarray) -> bool:
    """Each query's k neighbour distances match the brute-force truth
    (rows in ``q_ids`` order) to 1e-6 km, so ties may pick either
    neighbour."""
    k = truth.shape[1]
    if len(got) != len(q_ids) * k:
        return False
    d = got.sort_values(["query_id", "dist_km"]).dist_km.to_numpy().reshape(-1, k)
    return bool(np.allclose(d, truth[np.argsort(q_ids)], atol=1e-6, rtol=0))


def counts_ok(got: pd.Series, want: pd.Series) -> bool:
    """Per-cell counts equal, cell for cell."""
    return got.index.is_unique and got.sort_index().astype(np.int64).equals(
        want.sort_index().astype(np.int64)
    )
