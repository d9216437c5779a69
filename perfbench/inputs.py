"""Seeded input generators for the three workloads.

Everything the engine reads is built here from ``--seed`` with numpy and
pyarrow only — never with ``geoharvest_spark`` code — so the parent and a
changed tree see byte-identical inputs. Each workload's inputs are staged
once per seed as parquet under the work directory and reused by later
runs with the same seed. Staging also measures the input properties the
engine's behaviour depends on (hot-cell share, polygon cover shares,
duplicate shares, malformed share) and a content digest per table.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes (stated input rows; rows_per_s divides by these) --------------
N_PAGES = 1_500
PAGES_MALFORMED_SHARE = 0.08
HARVEST_WINDOW = ("2024-02-01", "2024-12-01")  # modified_date_filter bounds
N_POINTS = 100_000
POINTS_HOT_SHARE = 0.30
N_POLYGONS = 200
POLY_RADIUS = (0.8, 1.6)  # in res-5 cells
HOT_POLY_OFFSET = 0.9  # hot-cell polygons: centre distance, in res-5 cells
N_RASTERS = 4
RASTER_SIDE = 256
N_DOCS = 2_000
DOC_TOKENS = (60, 140)
DOCS_NEAR_DUP_SHARE = 0.15
DOCS_SPAN_SHARE = 0.20

# res-5 ghcell grid: 256 x 128 square cells of 1.40625 degrees
RES5_STEP = 360.0 / 256
FORMATS = ("fgdc", "iso19139", "gbl1", "aardvark", "marc")
_WORDS = (
    "boston cambridge census tract parcel road rail hydrography elevation "
    "landuse zoning survey imagery orthophoto boundary district shoreline "
    "transit water soil geology wetland building footprint harbor county"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# ---------------------------------------------------------------------------
# harvest_tiles: the staged page table
# ---------------------------------------------------------------------------
def _bbox(r: np.random.Generator) -> tuple[float, float, float, float]:
    if r.random() < 0.6:  # hot regions -> skewed tile cells
        cx, cy = [(-71.1, 42.36), (8.5, 47.4), (121.5, 31.2)][int(r.integers(3))]
        cx, cy = cx + r.uniform(-3, 3), cy + r.uniform(-2, 2)
    else:
        cx, cy = r.uniform(-179, 179), r.uniform(-85, 85)
    dx, dy = r.uniform(0.01, 0.5), r.uniform(0.01, 0.5)
    return (round(cx - dx, 6), round(cx + dx, 6), round(cy + dy, 6), round(cy - dy, 6))


def _marc_coord(val: float, ew: bool) -> str:
    hemi = ("W" if val < 0 else "E") if ew else ("S" if val < 0 else "N")
    a = abs(val)
    d, m = int(a), int((a - int(a)) * 60)
    s = min(59, int(round(((a - d) * 60 - m) * 60)))
    return f"{hemi}{d:03d}{m:02d}{s:02d}"


def _payload(fmt: str, i: int, title: str, year: int, bbox, public: bool) -> str:
    w, e, n, s = bbox
    if fmt == "fgdc":
        return (
            "<metadata><idinfo><citation><citeinfo>"
            f"<origin>Office {i % 7}</origin><pubdate>{year}0315</pubdate>"
            f"<title>{title}</title><geoform>vector digital data</geoform>"
            "<pubinfo><publish>MassGIS</publish></pubinfo></citeinfo></citation>"
            f"<descript><abstract>Layer {i}.</abstract></descript>"
            "<timeperd><timeinfo><rngdates>"
            f"<begdate>{year}0101</begdate><enddate>{year + 1}1231</enddate>"
            "</rngdates></timeinfo></timeperd>"
            "<keywords><theme><themekey>Transportation</themekey></theme></keywords>"
            f"<spdom><bounding><westbc>{w}</westbc><eastbc>{e}</eastbc>"
            f"<northbc>{n}</northbc><southbc>{s}</southbc></bounding></spdom>"
            f"<accconst>{'Unrestricted' if public else 'Restricted'} Access Online"
            "</accconst></idinfo></metadata>"
        )
    if fmt == "iso19139":
        cs = "gco:CharacterString"
        restr = "" if public else (
            "<gmd:resourceConstraints><gmd:MD_LegalConstraints><gmd:accessConstraints>"
            '<gmd:MD_RestrictionCode codeListValue="restricted">restricted'
            "</gmd:MD_RestrictionCode></gmd:accessConstraints>"
            "</gmd:MD_LegalConstraints></gmd:resourceConstraints>"
        )
        return (
            '<gmd:MD_Metadata xmlns:gmd="http://www.isotc211.org/2005/gmd" '
            'xmlns:gco="http://www.isotc211.org/2005/gco">'
            "<gmd:identificationInfo><gmd:MD_DataIdentification>"
            f"<gmd:citation><gmd:CI_Citation><gmd:title><{cs}>{title}</{cs}>"
            "</gmd:title><gmd:date><gmd:CI_Date>"
            f"<gmd:date><gco:Date>{year}-03-15</gco:Date></gmd:date>"
            '<gmd:dateType><gmd:CI_DateTypeCode codeListValue="publication">'
            "publication</gmd:CI_DateTypeCode></gmd:dateType></gmd:CI_Date>"
            "</gmd:date></gmd:CI_Citation></gmd:citation>"
            f"<gmd:abstract><{cs}>ISO layer {i}.</{cs}></gmd:abstract>{restr}"
            "<gmd:extent><gmd:EX_Extent><gmd:geographicElement>"
            "<gmd:EX_GeographicBoundingBox>"
            f"<gmd:westBoundLongitude><gco:Decimal>{w}</gco:Decimal></gmd:westBoundLongitude>"
            f"<gmd:eastBoundLongitude><gco:Decimal>{e}</gco:Decimal></gmd:eastBoundLongitude>"
            f"<gmd:southBoundLatitude><gco:Decimal>{s}</gco:Decimal></gmd:southBoundLatitude>"
            f"<gmd:northBoundLatitude><gco:Decimal>{n}</gco:Decimal></gmd:northBoundLatitude>"
            "</gmd:EX_GeographicBoundingBox></gmd:geographicElement>"
            "</gmd:EX_Extent></gmd:extent>"
            "<gmd:topicCategory><gmd:MD_TopicCategoryCode>environment"
            "</gmd:MD_TopicCategoryCode></gmd:topicCategory>"
            "</gmd:MD_DataIdentification></gmd:identificationInfo><gmd:hierarchyLevel>"
            '<gmd:MD_ScopeCode codeListValue="dataset">dataset</gmd:MD_ScopeCode>'
            "</gmd:hierarchyLevel></gmd:MD_Metadata>"
        )
    if fmt == "gbl1":
        return json.dumps({
            "dc_identifier_s": f"gbl1-{i}", "dc_title_s": title,
            "dc_rights_s": "Public" if public else "Restricted",
            "dct_provenance_s": "MIT", "layer_geom_type_s": "Polygon",
            "dc_format_s": "Shapefile", "dct_issued_s": f"{year}-03-15",
            "dct_references_s": json.dumps({"http://schema.org/url": f"https://example.test/g/{i}"}),
            "solr_geom": f"ENVELOPE({w}, {e}, {n}, {s})", "solr_year_i": year,
        }, sort_keys=True)
    if fmt == "aardvark":
        return json.dumps({
            "id": f"aardvark-{i}", "dct_title_s": title,
            "dct_accessRights_s": "Public" if public else "Restricted",
            "gbl_mdVersion_s": "Aardvark",
            "gbl_mdModified_dt": "2024-01-01T00:00:00Z",
            "gbl_resourceClass_sm": ["Datasets"],
            "dcat_bbox": f"ENVELOPE({w}, {e}, {n}, {s})",
            "locn_geometry": f"ENVELOPE({w}, {e}, {n}, {s})",
            "gbl_indexYear_im": [year],
            "dct_references_s": json.dumps({"http://schema.org/url": f"https://example.test/a/{i}"}),
        }, sort_keys=True)
    return (  # marc
        '<record xmlns="http://www.loc.gov/MARC21/slim">'
        "<leader>01234cem a2200000 a 4500</leader>"
        f'<controlfield tag="001">99{100000 + i}</controlfield>'
        '<controlfield tag="007">aj canzn</controlfield>'
        f'<controlfield tag="008">120523s{year}    mau           000 0 eng d</controlfield>'
        '<datafield tag="034" ind1="1" ind2=" ">'
        f'<subfield code="d">{_marc_coord(w, True)}</subfield>'
        f'<subfield code="e">{_marc_coord(e, True)}</subfield>'
        f'<subfield code="f">{_marc_coord(n, False)}</subfield>'
        f'<subfield code="g">{_marc_coord(s, False)}</subfield></datafield>'
        f'<datafield tag="245" ind1="1" ind2="0"><subfield code="a">{title}'
        "</subfield></datafield>"
        '<datafield tag="336" ind1=" " ind2=" "><subfield code="a">cartographic image'
        "</subfield></datafield>"
        '<datafield tag="655" ind1=" " ind2="7"><subfield code="a">Maps.'
        "</subfield></datafield></record>"
    )


def _malformed(fmt: str, good: str, kind: int) -> tuple[str, str]:
    """(data-format, payload) for a page whose harvest must fail."""
    if kind == 0:  # truncated document
        return fmt, good[: len(good) // 3]
    if kind == 1:  # not the declared format at all
        return fmt, "{not valid" if fmt in ("gbl1", "aardvark") else "<<<garbage"
    return "", ""  # no metadata payload on the page


def pages_table(seed: int) -> tuple[pa.Table, dict]:
    r = _rng(seed, 1)
    urls, ts, htmls, texts, langs = [], [], [], [], []
    bad_rows = []
    base = dt.datetime(2024, 1, 1)
    for i in range(N_PAGES):
        fmt = FORMATS[int(r.integers(5))]
        year = 1990 + int(r.integers(35))
        words = [_WORDS[j] for j in r.integers(0, len(_WORDS), 14)]
        title = " ".join(w.title() for w in words[:3]) + f" {year}"
        good = _payload(fmt, i, title, year, _bbox(r), bool(r.random() < 0.7))
        data_fmt, payload = fmt, good
        bad_rows.append(r.random() < PAGES_MALFORMED_SHARE)
        if bad_rows[-1]:
            data_fmt, payload = _malformed(fmt, good, int(r.integers(3)))
        script = (
            f'<script type="application/geo-metadata" data-format="{data_fmt}"'
            f' data-event="created">{payload}</script>' if data_fmt else ""
        )
        body = " ".join(words[3:])
        htmls.append(
            f"<html><head><title>{title}</title></head><body><h1>{title}</h1>"
            f"<p>{body}</p>{script}</body></html>".encode()
        )
        texts.append(f"{title} {title} {body}")
        if fmt in ("fgdc", "iso19139"):
            urls.append(f"https://cdn.mit.test/gis/d{seed}_{i}.zip/d_{i}/{fmt}.xml")
        elif fmt in ("gbl1", "aardvark"):
            urls.append(f"https://github.test/OpenGeoMetadata/edu.mit/metadata/{seed}-{i}/record.json")
        else:
            day = dt.date(2024, 1, 1) + dt.timedelta(days=i % 120)
            urls.append(f"https://alma.test/alma-{day.isoformat()}-daily-extracted-records-to-index_00.xml#r{seed}-{i}")
        ts.append(base + dt.timedelta(seconds=int(r.integers(365 * 86400))))
        langs.append(("en", "fr", "de", "es")[int(r.integers(4))])
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })
    ts_np = np.array(ts, dtype="datetime64[us]")
    in_window = (ts_np >= np.datetime64(HARVEST_WINDOW[0])) & (ts_np < np.datetime64(HARVEST_WINDOW[1]))
    bad = np.array(bad_rows, dtype=bool)
    return table, {
        "pages": N_PAGES,
        "malformed_share": float(bad.mean()),
        "pages_in_window": int(in_window.sum()),
        "malformed_in_window": int((in_window & bad).sum()),
    }


# ---------------------------------------------------------------------------
# spatial_join: points, polygons and GeoTIFFs
# ---------------------------------------------------------------------------
def _convex_polygon(r, cx, cy, radius, k):
    ang = np.sort(r.uniform(0, 2 * np.pi, k))
    xs = np.round(cx + radius * np.cos(ang), 6)
    ys = np.round(cy + radius * np.sin(ang), 6)
    return np.append(xs, xs[0]), np.append(ys, ys[0])


def _inside_convex(xs, ys, px, py):
    """Points strictly inside a closed convex ring (counter-clockwise)."""
    ok = np.ones(np.shape(px), dtype=bool)
    for i in range(len(xs) - 1):
        cross = (xs[i + 1] - xs[i]) * (py - ys[i]) - (ys[i + 1] - ys[i]) * (px - xs[i])
        ok &= cross > 0
    return ok


def _tiff(img: np.ndarray, lon0: float, lat0: float, step: float) -> bytes:
    """Little-endian 8-bit grayscale GeoTIFF, one uncompressed strip."""
    h, w = img.shape
    tags = [  # (tag, type, count, value-or-bytes)
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 1), (273, 4, 1, None), (277, 3, 1, 1), (278, 4, 1, h),
        (279, 4, 1, h * w),
        (33550, 12, 3, struct.pack("<3d", step, step, 0.0)),
        (33922, 12, 6, struct.pack("<6d", 0, 0, 0, lon0, lat0, 0.0)),
    ]
    ifd_off = 8
    extra_off = ifd_off + 2 + 12 * len(tags) + 4
    extra = b"".join(v for *_, v in tags if isinstance(v, bytes))
    data_off = extra_off + len(extra)
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(tags))
    cursor = extra_off
    for tag, typ, cnt, v in tags:
        if isinstance(v, bytes):
            out += struct.pack("<HHII", tag, typ, cnt, cursor)
            cursor += len(v)
        elif typ == 3:  # SHORT, left-justified in the 4-byte value field
            out += struct.pack("<HHIHH", tag, typ, cnt, v, 0)
        else:
            out += struct.pack("<HHII", tag, typ, cnt, data_off if v is None else v)
    out += struct.pack("<I", 0) + extra + img.astype(np.uint8).tobytes()
    return bytes(out)


def spatial_tables(seed: int) -> tuple[dict[str, pa.Table], dict]:
    r = _rng(seed, 2)
    # one hot res-5 cell: (x, y) index chosen from the seed, points strictly
    # inside it (1e-6 margin keeps them off the cell edges)
    hx, hy = int(r.integers(60, 90)), int(r.integers(85, 100))
    n_hot = int(N_POINTS * POINTS_HOT_SHARE)
    lon = np.empty(N_POINTS)
    lat = np.empty(N_POINTS)
    lon[:n_hot] = -180 + (hx + r.uniform(1e-6, 1 - 1e-6, n_hot)) * RES5_STEP
    lat[:n_hot] = -90 + (hy + r.uniform(1e-6, 1 - 1e-6, n_hot)) * RES5_STEP
    rest = N_POINTS - n_hot
    # the rest: 2/3 around a few seeded regional centres, 1/3 worldwide
    n_reg = rest * 2 // 3
    centres = np.column_stack([r.uniform(-150, 150, 6), r.uniform(-55, 65, 6)])
    pick = r.integers(0, 6, n_reg)
    lon[n_hot:n_hot + n_reg] = centres[pick, 0] + r.normal(0, 4, n_reg)
    lat[n_hot:n_hot + n_reg] = centres[pick, 1] + r.normal(0, 3, n_reg)
    lon[n_hot + n_reg:] = r.uniform(-179.5, 179.5, rest - n_reg)
    lat[n_hot + n_reg:] = r.uniform(-84, 84, rest - n_reg)
    order = r.permutation(N_POINTS)
    lon = np.round(np.clip(lon[order], -179.9, 179.9), 6)
    lat = np.round(np.clip(lat[order], -85, 85), 6)
    ids = np.arange(N_POINTS, dtype=np.int64)
    points = pa.table({"point_id": ids, "lon": lon, "lat": lat})

    # convex polygons, radius 0.3-2.5 res-5 cells, centred where the points are
    poly_rows = {"poly_id": [], "poly_num": [], "wkt": [], "w": [], "e": [], "n": [], "s": []}
    rings = []
    hot_c = (-180 + (hx + 0.5) * RES5_STEP, -90 + (hy + 0.5) * RES5_STEP)
    n_hot_polys = N_POLYGONS // 10
    for j in range(N_POLYGONS):
        if j < n_hot_polys:  # a ring of equal polygons half over the hot cell
            a = 2 * np.pi * (j + r.uniform(-0.1, 0.1)) / n_hot_polys
            cx = hot_c[0] + HOT_POLY_OFFSET * RES5_STEP * np.cos(a)
            cy = hot_c[1] + HOT_POLY_OFFSET * RES5_STEP * np.sin(a)
            radius, k = r.uniform(0.95, 1.05), 8
        else:
            if j < N_POLYGONS * 6 // 10:
                c = centres[j % 6]
                cx, cy = c[0] + r.normal(0, 4), c[1] + r.normal(0, 3)
            else:
                cx, cy = r.uniform(-170, 170), r.uniform(-75, 75)
            radius, k = r.uniform(*POLY_RADIUS), int(r.integers(5, 11))
        xs, ys = _convex_polygon(r, cx, cy, radius * RES5_STEP, k)
        rings.append((xs, ys))
        poly_rows["poly_id"].append(f"poly{j:05d}")
        poly_rows["poly_num"].append(j)
        poly_rows["wkt"].append(
            "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in zip(xs, ys)) + "))"
        )
        for k, v in (("w", xs.min()), ("e", xs.max()), ("n", ys.max()), ("s", ys.min())):
            poly_rows[k].append(float(v))
    polygons = pa.table(poly_rows)

    # GeoTIFFs: res-7-aligned tiles over polygon centres, 8 pixels per res-7 cell
    step = RES5_STEP / 4 / 8
    payloads, raster_ids = [], []
    for t in range(N_RASTERS):
        xs, ys = rings[int(r.integers(N_POLYGONS))]
        lon0 = -180 + np.floor((xs.mean() + 180) / (RES5_STEP / 4)) * (RES5_STEP / 4) - 2 * RES5_STEP
        lat0 = -90 + np.ceil((ys.mean() + 90) / (RES5_STEP / 4)) * (RES5_STEP / 4) + 2 * RES5_STEP
        img = r.integers(0, 256, (RASTER_SIDE, RASTER_SIDE), dtype=np.uint8)
        payloads.append(_tiff(img, float(lon0), float(lat0), step))
        raster_ids.append(t)
    rasters = pa.table({"raster_id": raster_ids, "payload": pa.array(payloads, pa.binary())})

    # measured properties
    cell = np.floor((lon + 180) / RES5_STEP).astype(np.int64) * 1000 + np.floor((lat + 90) / RES5_STEP).astype(np.int64)
    _, counts = np.unique(cell, return_counts=True)
    interior = boundary = 0
    for xs, ys in rings:
        x0, x1 = np.floor((xs.min() + 180) / RES5_STEP), np.floor((xs.max() + 180) / RES5_STEP)
        y0, y1 = np.floor((ys.min() + 90) / RES5_STEP), np.floor((ys.max() + 90) / RES5_STEP)
        gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        cx0, cy0 = -180 + gx.ravel() * RES5_STEP, -90 + gy.ravel() * RES5_STEP
        corners = [_inside_convex(xs, ys, cx0 + dx, cy0 + dy)
                   for dx in (0, RES5_STEP) for dy in (0, RES5_STEP)]
        full = np.logical_and.reduce(corners)
        interior += int(full.sum())
        boundary += int((~full).sum())
    props = {
        "points": N_POINTS,
        "hot_cell_share": float(counts.max() / N_POINTS),
        "polygons": N_POLYGONS,
        "polygon_radius_res5_cells": list(POLY_RADIUS),
        "cover_interior_share": interior / (interior + boundary),
        "cover_boundary_share": boundary / (interior + boundary),
        "raster_pixels": N_RASTERS * RASTER_SIDE * RASTER_SIDE,
    }
    return {"points": points, "polygons": polygons, "rasters": rasters}, props


# ---------------------------------------------------------------------------
# webtext_dedup: documents with near-duplicates and repeated spans
# ---------------------------------------------------------------------------
VOCAB = 4_000
SPAN_LEN = 30
N_SPANS = 40


def docs_table(seed: int) -> tuple[dict[str, pa.Table], dict]:
    r = _rng(seed, 3)
    ranks = np.arange(1, VOCAB + 1)
    p = 1.0 / ranks
    p /= p.sum()
    spans = r.choice(VOCAB, (N_SPANS, SPAN_LEN), p=p)
    lens = r.integers(*DOC_TOKENS, N_DOCS)
    pool = r.choice(VOCAB, int(lens.sum()), p=p)
    cuts = np.cumsum(lens)[:-1]
    kind = r.random(N_DOCS)
    docs: list[np.ndarray] = []
    originals: list[int] = []
    near_dup = span_docs = 0
    for i, toks in enumerate(np.split(pool, cuts)):
        if i > 50 and kind[i] < DOCS_NEAR_DUP_SHARE:
            # a near-duplicate of an earlier original: duplicate groups are
            # stars around one original, never chains
            src = docs[originals[int(r.integers(len(originals)))]].copy()
            edits = r.integers(0, len(src), max(1, len(src) // 40))
            src[edits] = toks[: len(edits)]
            docs.append(src)
            near_dup += 1
            continue
        if kind[i] > 1 - DOCS_SPAN_SHARE:
            at = int(r.integers(len(toks)))
            toks = np.concatenate([toks[:at], spans[int(r.integers(N_SPANS))], toks[at:]])
            span_docs += 1
        originals.append(i)
        docs.append(toks)
    words = np.array([f"w{j}" for j in range(VOCAB)])
    text = [" ".join(words[d]) for d in docs]

    # repeated-span share: docs holding an 8-gram that occurs in another doc
    lens = np.array([len(d) for d in docs])
    flat = np.concatenate(docs).astype(np.uint64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    doc_of = np.repeat(np.arange(N_DOCS), lens)
    h = np.zeros(len(flat) - 7, dtype=np.uint64)
    for k in range(8):
        h = h * np.uint64(1_000_003) + flat[k: len(flat) - 7 + k]
    valid = np.ones(len(h), dtype=bool)
    ends = starts + lens
    for k in range(1, 8):
        valid[(ends - k)[ends - k < len(h)]] = False
    gh, gd = h[valid], doc_of[: len(h)][valid]
    order = np.lexsort((gd, gh))
    gh, gd = gh[order], gd[order]
    # an 8-gram is repeated across docs when its run of equal hashes spans
    # more than one doc id
    run_start = np.concatenate([[True], gh[1:] != gh[:-1]])
    run_id = np.cumsum(run_start) - 1
    first_doc = gd[run_start][run_id]
    last_doc = gd[np.concatenate([run_start[1:], [True]])][run_id]
    rep_docs = np.unique(gd[first_doc != last_doc])
    table = pa.table({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": text})
    props = {
        "docs": N_DOCS,
        "tokens": int(lens.sum()),
        "near_dup_share": near_dup / N_DOCS,
        "span_doc_share": span_docs / N_DOCS,
        "repeated_8gram_doc_share": len(rep_docs) / N_DOCS,
    }
    return {"docs": table}, props


# ---------------------------------------------------------------------------
# staging
# ---------------------------------------------------------------------------
def table_digest(table: pa.Table) -> str:
    """sha256 over the table's Arrow IPC stream (content digest)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


_GENERATORS = {
    "harvest_tiles": lambda s: (lambda t: ({"pages": t[0]}, t[1]))(pages_table(s)),
    "spatial_join": spatial_tables,
    "webtext_dedup": docs_table,
}


def stage(workload: str, seed: int, work_dir: str) -> tuple[str, dict]:
    """Stage a workload's inputs for ``seed`` (once) -> (dir, manifest)."""
    out = os.path.join(work_dir, "inputs", f"{workload}-s{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tables, props = _GENERATORS[workload](seed)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    digests = {}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 20)
        digests[name] = table_digest(t)
    manifest = {"properties": props, "digests": digests}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, manifest
