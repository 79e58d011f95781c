"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of (seed, pass, increment): the same
arguments give byte-identical files. Generation always runs outside the
timed regions, and finished outputs are cached on disk (a ``manifest.json``
written last marks a complete directory), so a rerun with the same seed
pays nothing.

- ``headline_tables``: the star schema plus events/documents/embeddings,
  composed from ``scripts/gen_scaledata.py``'s per-table generators driven
  by this module's own RNG; region/nation are the fixed TPC-H dimensions.
- ``company_increment``: one ABR bulk-extract XML file and one ``.warc.gz``
  segment, with the dirt the reference's cleaners exist for.
"""

from __future__ import annotations

import gzip
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import gen_scaledata as gsd  # noqa: E402

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) for k in key])


def _done(outdir: str) -> dict | None:
    path = os.path.join(outdir, "manifest.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return None


def _finish(outdir: str, manifest: dict) -> dict:
    manifest["bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(outdir)
        for f in fs
        if f != "manifest.json"
    )
    tmp = os.path.join(outdir, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, os.path.join(outdir, "manifest.json"))
    return manifest


def _write_parquet(outdir: str, name: str, table: pa.Table, rows: dict) -> None:
    pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
    rows[name] = table.num_rows


# --- headline: the star schema at a given scale factor ---------------------


def headline_tables(outdir: str, seed: int, sf: float) -> dict:
    """All ten testdata tables at scale ``sf`` (gen_scaledata's row counts)."""
    if (m := _done(outdir)) is not None:
        return m
    os.makedirs(outdir, exist_ok=True)
    rng = _rng(seed, 1)
    rows: dict[str, int] = {}
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    _write_parquet(outdir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }), rows)
    _write_parquet(outdir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), rows)
    _write_parquet(outdir, "customer", gsd.gen_customer(rng, n_cust), rows)
    _write_parquet(outdir, "supplier", gsd.gen_supplier(rng, n_supp), rows)
    _write_parquet(outdir, "part", gsd.gen_part(rng, n_part), rows)
    orders, days = gsd.gen_orders(rng, int(1_500_000 * sf), n_cust)
    _write_parquet(outdir, "orders", orders, rows)
    _write_parquet(outdir, "lineitem", gsd.gen_lineitem(rng, days, n_part, n_supp), rows)
    _write_parquet(outdir, "events", gsd.gen_events(rng, int(1_000_000 * sf)), rows)
    _write_parquet(outdir, "documents", gsd.gen_documents(rng, int(50_000 * sf)), rows)
    _write_parquet(outdir, "embeddings", gsd.gen_embeddings(rng, int(20_000 * sf)), rows)
    return _finish(outdir, {"seed": seed, "sf": sf, "rows": rows})


# --- company_er: ABR XML + Common Crawl WARC increments ---------------------

# First words are drawn Zipf-style by rank, so 2-char name prefixes (the
# matcher's block key) are skewed: a few blocks are hot, as on real names.
HEAD_WORDS = [
    "the", "australian", "sydney", "melbourne", "pacific", "southern",
    "national", "global", "coastal", "united", "brisbane", "golden",
    "northern", "western", "eastern", "premier", "quality", "smart",
    "green", "blue", "red", "metro", "urban", "rural", "alpha", "omega",
    "summit", "harbour", "river", "ocean", "mountain", "valley", "city",
    "bright", "swift", "prime", "royal", "crown", "eagle", "koala",
]
BODY_WORDS = [
    "building", "plumbing", "electrical", "logistics", "consulting",
    "foods", "mining", "energy", "solar", "property", "finance", "legal",
    "medical", "dental", "motors", "transport", "cleaning", "design",
    "media", "software", "systems", "trading", "imports", "exports",
    "farming", "wines", "coffee", "bakery", "fitness", "education",
    "security", "freight", "marine", "timber", "steel", "glass",
    "paints", "tiles", "roofing", "gardens", "pets", "travel", "events",
]
SUFFIXES = ["PTY LTD", "PTY LIMITED", "LIMITED", "HOLDINGS PTY LTD", "GROUP PTY LTD"]
ENTITY_TYPES = ["Australian Private Company", "Australian Public Company", "Discretionary Trading Trust"]
STATES = [("NSW", 2000, 2999), ("VIC", 3000, 3999), ("QLD", 4000, 4999),
          ("SA", 5000, 5999), ("WA", 6000, 6999), ("TAS", 7000, 7999),
          ("NT", 800, 899), ("ACT", 2600, 2618)]
# FIXTURES.md section B1 status mix. Real bulk extracts say "ACT"; the
# reference's lower(status) == 'active' filter keeps only 'Active'.
STATUSES = ["Active", "ACT", "Cancelled", ""]
STATUS_P = [0.45, 0.35, 0.15, 0.05]
INDUSTRIES = ["construction", "retail", "mining", "hospitality", "technology",
              "health", "agriculture", "transport", "finance", "education"]
GIVEN = ["JANE", "JOHN", "MARY", "DAVID", "SARAH", "PETER", "EMMA", "JAMES"]
FAMILY = ["SMITH", "NGUYEN", "WILLIAMS", "BROWN", "WILSON", "TAYLOR", "LEE", "MARTIN"]

_HEAD_P = 1.0 / np.arange(1, len(HEAD_WORDS) + 1) ** 1.1
_HEAD_P /= _HEAD_P.sum()


def _company_name(rng: np.random.Generator) -> str:
    head = HEAD_WORDS[rng.choice(len(HEAD_WORDS), p=_HEAD_P)]
    a, b = rng.choice(len(BODY_WORDS), size=2, replace=False)
    return f"{head} {BODY_WORDS[a]} {BODY_WORDS[b]} {SUFFIXES[rng.integers(0, len(SUFFIXES))]}".upper()


def _typo(rng: np.random.Generator, name: str) -> str:
    """One substitution or deletion past the 2-char block prefix."""
    if len(name) < 6:
        return name
    i = int(rng.integers(3, len(name)))
    if rng.random() < 0.5:
        return name[:i] + name[i + 1:]
    return name[:i] + "abcdefghijklmnopqrstuvwxyz"[rng.integers(0, 26)] + name[i + 1:]


def _abr_record(abn: str, name: str, person: tuple[str, str] | None, etype: str,
                status: str, state: str, postcode: str, start: str) -> str:
    addr = (f"<BusinessAddress><AddressDetails><State>{state}</State>"
            f"<Postcode>{postcode}</Postcode></AddressDetails></BusinessAddress>")
    if person is None:
        entity = (f"<MainEntity><NonIndividualName type=\"MN\"><NonIndividualNameText>"
                  f"{name}</NonIndividualNameText></NonIndividualName>{addr}</MainEntity>")
    else:
        entity = (f"<LegalEntity><IndividualName type=\"LGL\"><GivenName>{person[0]}</GivenName>"
                  f"<FamilyName>{person[1]}</FamilyName></IndividualName>{addr}</LegalEntity>")
    return (f"<ABR recordLastUpdatedDate=\"20240101\"><ABN status=\"{status}\" "
            f"ABNStatusFromDate=\"{start}\">{abn}</ABN><EntityType><EntityTypeInd>PRV"
            f"</EntityTypeInd><EntityTypeText>{etype}</EntityTypeText></EntityType>"
            f"{entity}</ABR>")


def _warc_record(url: str, html: str) -> bytes:
    payload = f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n{html}".encode()
    head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n").encode()
    return gzip.compress(head + payload + b"\r\n\r\n", mtime=0)


def _html(rng: np.random.Generator, name: str | None) -> str:
    """A page whose company name sits in one of the extractor's fallbacks."""
    kw = f'<meta name="keywords" content="{INDUSTRIES[rng.integers(0, len(INDUSTRIES))]}, services"/>'
    if name is None:
        return f"<html><head>{kw}</head><body><p>welcome</p></body></html>"
    form = rng.integers(0, 4)
    if form == 0:
        head = f'<meta property="og:site_name" content="{name}"/>{kw}'
        return f"<html><head>{head}</head><body><p>about us</p></body></html>"
    if form == 1:
        ld = json.dumps({"@type": "Organization", "name": name})
        return f'<html><head>{kw}<script type="application/ld+json">{ld}</script></head></html>'
    if form == 2:
        return f"<html><head><title>Home - {name}</title>{kw}</head></html>"
    return f"<html><head>{kw}</head><body><h1>{name}</h1></body></html>"


def company_increment(
    outdir: str, seed: int, pass_index: int, inc: int, n_abr: int, n_pages: int
) -> dict:
    """One landing increment: ``abr/part.xml`` and ``cc/segment.warc.gz``.

    ABNs are drawn from a pool shared by every increment of the pass, so
    later increments update companies landed earlier. Planted dirt: 9-digit
    and alphabetic ABNs, bad postcodes, in-file duplicate records, the
    status mix above, and LegalEntity-only records (individual names).
    Common Crawl pages name a company of this increment's ABR file with
    one typo (60%), exactly (15%), a company that is not in the ABR (20%),
    or nothing (5%); 3% of pages are repeated.
    """
    if (m := _done(outdir)) is not None:
        return m
    os.makedirs(os.path.join(outdir, "abr"), exist_ok=True)
    os.makedirs(os.path.join(outdir, "cc"), exist_ok=True)
    pool = _rng(seed, 3, pass_index)
    pool_size = 4 * n_abr
    abns = pool.integers(10**10, 10**11, size=pool_size)
    names = [_company_name(pool) for _ in range(pool_size)]

    rng = _rng(seed, 4, pass_index, inc)
    idx = rng.choice(pool_size, size=n_abr, replace=False)
    recs: list[str] = []
    counts = {"abr_records": 0, "abr_valid_active": 0}
    counts.update({f"abr_valid_status_{st or 'empty'}": 0 for st in STATUSES})
    valid_active: set[str] = set()
    for j in idx:
        abn, name = str(abns[j]), names[j]
        dirt = rng.random()
        if dirt < 0.03:
            abn = abn[:9]
        elif dirt < 0.05:
            abn = "ABN" + abn[3:]
        state, lo, hi = STATES[rng.integers(0, len(STATES))]
        postcode = f"{int(rng.integers(lo, hi + 1)):04d}"
        if rng.random() < 0.03:
            postcode = postcode[:3]
        status = STATUSES[rng.choice(len(STATUSES), p=STATUS_P)]
        person = None
        if rng.random() < 0.1:
            person = (GIVEN[rng.integers(0, len(GIVEN))], FAMILY[rng.integers(0, len(FAMILY))])
        start = f"{int(rng.integers(1999, 2024))}{int(rng.integers(1, 13)):02d}{int(rng.integers(1, 29)):02d}"
        etype = ENTITY_TYPES[rng.integers(0, len(ENTITY_TYPES))]
        rec = _abr_record(abn, name, person, etype, status, state, postcode, start)
        recs.append(rec)
        if rng.random() < 0.02:
            recs.append(rec)
        shape_ok = len(abn) == 11 and abn.isdigit() and len(postcode) == 4
        if shape_ok:
            counts[f"abr_valid_status_{status or 'empty'}"] += 1
        if shape_ok and status == "Active":
            valid_active.add(abn)
    counts["abr_records"] = len(recs)
    counts["abr_valid_active"] = len(valid_active)
    with open(os.path.join(outdir, "abr", "part.xml"), "w") as fh:
        fh.write("<Transfer>\n" + "\n".join(recs) + "\n</Transfer>\n")

    pages: list[bytes] = []
    for k in range(n_pages):
        r = rng.random()
        if r < 0.60:
            name = _typo(rng, names[idx[rng.integers(0, n_abr)]]).title()
        elif r < 0.75:
            name = names[idx[rng.integers(0, n_abr)]].title()
        elif r < 0.95:
            name = _company_name(rng).title()
        else:
            name = None
        url = f"https://www.site{seed}-{pass_index}-{inc}-{k}.com.au/"
        page = _warc_record(url, _html(rng, name))
        pages.append(page)
        if rng.random() < 0.03:
            pages.append(page)
    with open(os.path.join(outdir, "cc", "segment.warc.gz"), "wb") as fh:
        fh.write(b"".join(pages))
    counts["cc_pages"] = len(pages)
    return _finish(outdir, {
        "seed": seed, "pass": pass_index, "increment": inc, "rows": counts,
        "valid_active_abns": sorted(valid_active),
    })
