"""Seeded input generators for the workloads.

Everything here is plain Python + pyarrow: inputs are written before the
Spark session exists, outside every timed region and outside
``setup_s``.  The same seed gives byte-identical files (fixed row order,
fixed writer options, no timestamps in the payloads).

Each generator also returns its ground truth:

- ``etl``: the canonical rows every source must land after the
  package's own filters (M49 membership, the 2005-2030 year window, and
  the per-source null-value rules), keyed by provider;
- ``corpus``: the duplicate clusters and the docs that fail the quality
  gate.
"""

from __future__ import annotations

import csv
import io
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

YEAR_MIN, YEAR_MAX = 2005, 2030
FAKE_ISO3 = ("XKX", "XAA", "XBB", "XCC", "XDD")  # not in M49
FAKE_M49 = ("999", "998", "997")
FAKE_NAMES = ("Atlantis", "Lemuria", "Hyperborea")

# The 12 sources, in run order.  The two bulk CSVs come first.
SOURCES = (
    "world_bank_wdi",
    "unstats_sdg_database",
    "sipri_milex",
    "world_bank_api",
    "who_gho_api",
    "unstats_sdg_api",
    "unicef_sdmx_api",
    "ilo_sdmx_api",
    "imf_datamapper_api",
    "unaids_kpatlas",
    "healthdata_ghdx",
    "energydata_info",
)


def m49_countries(repo_root: str) -> list[tuple[str, str, str]]:
    """``(name, m49, iso3)`` of the packaged UNSD table, in file order."""
    path = os.path.join(repo_root, "dfx_indicators_etl_spark", "data", "unsd-m49.csv")
    with open(path, encoding="utf-8-sig") as f:
        rows = list(csv.DictReader(io.StringIO(f.read()), delimiter=";"))
    return [
        (r["Country or Area"], str(int(r["M49 Code"])), r["ISO-alpha3 Code"])
        for r in rows
        if r["ISO-alpha3 Code"].strip()
    ]


# --------------------------------------------------------------------------
# etl_refresh inputs
# --------------------------------------------------------------------------


@dataclass
class EtlInputs:
    files: dict[str, str]  # provider -> staged file (csv or parquet)
    kind: dict[str, str]  # provider -> "path" | "payload"
    expected: dict[str, list[tuple]]  # provider -> canonical rows
    raw_values: dict[str, int]  # provider -> raw value cells
    invalid_values: dict[str, int]  # provider -> raw cells that must drop
    stats: dict = field(default_factory=dict)


def _scaled(n: int) -> int:
    return max(2, int(round(n * SCALE)))


# Countries per indicator relative to the production shape: halved so a
# refresh fits the per-run budget (indicator counts are kept).
SCALE = 0.35


def gen_etl(out_dir: str, seed: int, repo_root: str) -> EtlInputs:
    """Stage raw inputs for all 12 sources under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    countries = m49_countries(repo_root)
    files, kind, expected, raw, bad = {}, {}, {}, {}, {}
    for idx, provider in enumerate(SOURCES):
        rng = random.Random(seed * 1000 + idx)
        fn = globals()[f"_gen_{provider}"]
        path, k, rows, n_raw, n_bad = fn(rng, countries, out_dir)
        files[provider], kind[provider], expected[provider] = path, k, rows
        raw[provider], bad[provider] = n_raw, n_bad
        if len({r[:4] for r in rows}) != len(rows):  # generator invariant
            raise AssertionError(f"{provider}: duplicate series keys generated")
    total = sum(raw.values())
    bulk = raw["world_bank_wdi"] + raw["unstats_sdg_database"]
    stats = {
        "raw_values": total,
        "expected_rows": sum(len(v) for v in expected.values()),
        "invalid_share": round(sum(bad.values()) / total, 4),
        "bulk_share": round(bulk / total, 4),
        "indicators": len({r[0] for v in expected.values() for r in v}),
        "bytes": sum(os.path.getsize(p) for p in files.values()),
    }
    return EtlInputs(files, kind, expected, raw, bad, stats)


def _write_parquet(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return path


def _bad_country(rng, c, reason, field):
    """Swap the country for a non-M49 one when the cell is ``cty``-bad."""
    if reason != "cty":
        return c[("name", "m49", "iso3").index(field)]
    return {"iso3": rng.choice(FAKE_ISO3), "m49": rng.choice(FAKE_M49),
            "name": rng.choice(FAKE_NAMES)}[field]


def _gen_world_bank_wdi(rng, countries, out_dir):
    """Wide CSV: one row per (indicator, country), year columns
    2015..2031.  The transformer keeps years >= 2015; 2031 falls outside
    the window; empty cells are null values."""
    years = list(range(2015, 2032))
    n_ind, n_cty = 24, _scaled(160)
    rows, expected, n_raw, n_bad = [], [], 0, 0
    for i in range(n_ind):
        name, code = f"WDI indicator {i:03d}", f"WDI.{i:03d}"
        ctys = rng.sample(countries, n_cty)
        for c in ctys + [None] * 3:  # three non-M49 rows per indicator
            iso3 = c[2] if c else rng.choice(FAKE_ISO3) + str(i)
            cname = c[0] if c else "Nowhere"
            cells = []
            for y in years:
                v = round(rng.uniform(0.0, 1000.0), 3)
                null = rng.random() < 0.02
                n_raw += 1
                cells.append("" if null else repr(v))
                if c is None or y > YEAR_MAX or null:
                    n_bad += 1
                else:
                    expected.append((f"{name} [{code}]", iso3, y, "Total", v))
            rows.append([cname, iso3, name, code] + cells)
    path = os.path.join(out_dir, "wdi.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["Country Name", "Country Code", "Indicator Name", "Indicator Code"]
                   + [str(y) for y in years])
        w.writerows(rows)
    return path, "path", expected, n_raw, n_bad


def _gen_unstats_sdg_database(rng, countries, out_dir):
    """Long CSV (SDG global database extract): one row per observation
    with Sex/Age dimension columns; values sometimes carry a ``<``."""
    n_series, n_cty = 30, _scaled(100)
    years = list(range(2006, 2021))
    sexes = ("Female", "Male")
    rows, expected, n_raw, n_bad = [], [], 0, 0
    for i in range(n_series):
        code, desc = f"SG_S{i:03d}", f"SDG series {i:03d}"
        sex = sexes[i % 2]
        for c in rng.sample(countries, n_cty):
            for y in years:
                v = round(rng.uniform(0.0, 1000.0), 3)
                u = rng.random()
                geo, yy, val = c[1], y, repr(v)
                if u < 0.035:
                    geo = rng.choice(FAKE_M49)
                elif u < 0.07:
                    yy = rng.choice((1998, 2001, 2033))
                elif u < 0.10:
                    val = ""
                elif u < 0.15:
                    val = "<" + repr(v)
                n_raw += 1
                rows.append(["1", "1.1", "1.1.1", code, desc, geo, c[0], yy, val,
                             "UNSD", "PERCENT", sex, "ALLAGE"])
                if u < 0.10:
                    n_bad += 1
                else:
                    expected.append((f"{desc} [{code}]", c[2], y, f"{sex}; ALLAGE", v))
    path = os.path.join(out_dir, "sdgdb.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["Goal", "Target", "Indicator", "SeriesCode", "SeriesDescription",
                    "GeoAreaCode", "GeoAreaName", "TimePeriod", "Value", "Source",
                    "Units", "Sex", "Age"])
        w.writerows(rows)
    return path, "path", expected, n_raw, n_bad


def _api_cells(rng, countries, reasons=("cty", "year", "null")):
    """Long API-shaped cells: valid ones plus ~10% invalid ones whose
    reasons rotate through ``reasons``."""
    years = list(range(2008, 2018))
    for i in range(8):
        ctys = rng.sample(countries, _scaled(30))
        cells = [(c, y) for c in ctys for y in years]
        for c, y in cells:
            yield i, c, y, "ok", round(rng.uniform(0.0, 1000.0), 3)
        for k in range(len(cells) // 9):
            reason = reasons[k % len(reasons)]
            c = rng.choice(ctys)
            # out-of-window years are unique per indicator, so no bad row
            # shares a raw key with another bad row
            y = (2031 + k if k % 2 else 1950 + k) if reason == "year" else rng.choice(years)
            yield i, c, y, reason, round(rng.uniform(0.0, 1000.0), 3)


def _gen_sipri_milex(rng, countries, out_dir):
    """Wide payload by country NAME (SIPRI workbook shape)."""
    years = list(range(2003, 2025))
    rows, expected, n_raw, n_bad = [], [], 0, 0
    for i in range(4):
        ind = f"Military expenditure {i} [SIPRI_{i}]"
        for c in rng.sample(countries, _scaled(40)) + [None, None]:
            name = c[0] if c else FAKE_NAMES[i % 3] + f" {len(rows)}"
            vals = []
            for y in years:
                v = round(rng.uniform(0.0, 1000.0), 3)
                null = rng.random() < 0.02
                n_raw += 1
                vals.append(None if null else v)
                if c is None or y < YEAR_MIN or null:
                    n_bad += 1
                else:
                    expected.append((ind, c[2], y, "Total", v))
            rows.append([name, ind] + vals)
    cols = {"Country": [r[0] for r in rows], "indicator_name": [r[1] for r in rows]}
    for j, y in enumerate(years):
        cols[str(y)] = pa.array([r[2 + j] for r in rows], pa.float64())
    path = _write_parquet(pa.table(cols), os.path.join(out_dir, "sipri.parquet"))
    return path, "payload", expected, n_raw, n_bad


def _gen_world_bank_api(rng, countries, out_dir):
    recs, expected, n_raw, n_bad = [], [], 0, 0
    for i, c, y, reason, v in _api_cells(rng, countries):
        code, name = f"WB.API.{i}", f"World Bank API {i}"
        iso3 = _bad_country(rng, c, reason, "iso3")
        value = None if reason == "null" else v
        recs.append({"indicator": {"id": code, "value": name},
                     "country": {"id": iso3[:2], "value": c[0] if reason != "cty" else "Nowhere"},
                     "countryiso3code": iso3, "date": str(y), "value": value})
        n_raw += 1
        if reason == "ok":
            expected.append((f"{name} [{code}]", c[2], y, "Total", v))
        else:
            n_bad += 1
    t = pa.Table.from_pylist(recs, schema=pa.schema([
        ("indicator", pa.struct([("id", pa.string()), ("value", pa.string())])),
        ("country", pa.struct([("id", pa.string()), ("value", pa.string())])),
        ("countryiso3code", pa.string()), ("date", pa.string()),
        ("value", pa.float64())]))
    return _write_parquet(t, os.path.join(out_dir, "wb_api.parquet")), "payload", expected, n_raw, n_bad


def _gen_who_gho_api(rng, countries, out_dir):
    """The WHO transformer keeps null values, so invalid rows here are
    non-M49 codes and out-of-window years only."""
    recs, expected, n_raw, n_bad = [], [], 0, 0
    sexes = (("SEX_FMLE", "FMLE"), ("SEX_MLE", "MLE"))
    for i, c, y, reason, v in _api_cells(rng, countries, reasons=("cty", "year")):
        raw_sex, sex = sexes[i % 2]
        iso3 = _bad_country(rng, c, reason, "iso3")
        recs.append((f"WHO indicator {i}", iso3, y, "SEX", raw_sex, None, None,
                     None, None, "DATASOURCE_A", v))
        n_raw += 1
        if reason == "ok":
            expected.append((f"WHO indicator {i}", c[2], y, f"{sex}; A", v))
        else:
            n_bad += 1
    names = ["indicator_name", "SpatialDim", "TimeDim", "Dim1Type", "Dim1", "Dim2Type",
             "Dim2", "Dim3Type", "Dim3", "DataSourceDim", "NumericValue"]
    types = [pa.string(), pa.string(), pa.int32()] + [pa.string()] * 7 + [pa.float64()]
    t = pa.table({n: pa.array([r[j] for r in recs], ty) for j, (n, ty) in enumerate(zip(names, types))})
    return _write_parquet(t, os.path.join(out_dir, "who.parquet")), "payload", expected, n_raw, n_bad


def _gen_unstats_sdg_api(rng, countries, out_dir):
    recs, expected, n_raw, n_bad = [], [], 0, 0
    for i, c, y, reason, v in _api_cells(rng, countries):
        sex = ("FEMALE", "MALE")[i % 2]
        recs.append({"series": f"SI_API_{i}", "seriesDescription": f"SDG API series {i}",
                     "geoAreaCode": _bad_country(rng, c, reason, "m49"),
                     "timePeriodStart": str(y),
                     "value": "NaN" if reason == "null" else repr(v),
                     "attributes": [("Units", "PERCENT")], "dimensions": [("Sex", sex)]})
        n_raw += 1
        if reason == "ok":
            expected.append((f"SDG API series {i}, PERCENT [SI_API_{i}]", c[2], y, sex, v))
        else:
            n_bad += 1
    t = pa.Table.from_pylist(recs, schema=pa.schema([
        ("series", pa.string()), ("seriesDescription", pa.string()),
        ("geoAreaCode", pa.string()), ("timePeriodStart", pa.string()),
        ("value", pa.string()), ("attributes", pa.map_(pa.string(), pa.string())),
        ("dimensions", pa.map_(pa.string(), pa.string()))]))
    return _write_parquet(t, os.path.join(out_dir, "sdg_api.parquet")), "payload", expected, n_raw, n_bad


def _gen_unicef_sdmx_api(rng, countries, out_dir):
    recs, expected, n_raw, n_bad = [], [], 0, 0
    for i, c, y, reason, v in _api_cells(rng, countries):
        sex = ("Female", "Male")[i % 2]
        obs = None if reason == "null" else ("<" + repr(v) if i % 3 == 0 else repr(v))
        recs.append((_bad_country(rng, c, reason, "iso3"), f"UNICEF indicator {i}",
                     "percent", f"UN_{i}", sex, "Under 5", str(y), obs, "Admin", None))
        n_raw += 1
        if reason == "ok":
            expected.append((f"UNICEF indicator {i}, percent [UN_{i}]", c[2], y,
                             f"{sex}; Under 5", v))
        else:
            n_bad += 1
    names = ["REF_AREA", "Indicator", "Unit of measure", "INDICATOR", "Sex",
             "Current age", "TIME_PERIOD", "OBS_VALUE", "DATA_SOURCE", "SOURCE_LINK"]
    t = pa.table({n: pa.array([r[j] for r in recs], pa.string()) for j, n in enumerate(names)})
    return _write_parquet(t, os.path.join(out_dir, "unicef.parquet")), "payload", expected, n_raw, n_bad


def _gen_ilo_sdmx_api(rng, countries, out_dir):
    recs, expected, n_raw, n_bad = [], [], 0, 0
    for i, c, y, reason, v in _api_cells(rng, countries):
        sex = ("SEX_F", "SEX_M")[i % 2]
        recs.append(("A", _bad_country(rng, c, reason, "iso3"), f"ILO indicator [EMP_{i}]",
                     sex, "AGE_AGGREGATE_TOTAL", str(y),
                     None if reason == "null" else v, "S1", "NB"))
        n_raw += 1
        if reason == "ok":
            expected.append((f"ILO indicator [EMP_{i}]", c[2], y,
                             f"{sex}; AGE_AGGREGATE_TOTAL", v))
        else:
            n_bad += 1
    names = ["FREQ", "REF_AREA", "indicator_name", "SEX", "AGE", "TIME_PERIOD",
             "OBS_VALUE", "SOURCE", "UNIT_MEASURE_TYPE"]
    t = pa.table({n: pa.array([r[j] for r in recs], pa.float64() if n == "OBS_VALUE" else pa.string())
                  for j, n in enumerate(names)})
    return _write_parquet(t, os.path.join(out_dir, "ilo.parquet")), "payload", expected, n_raw, n_bad


def _gen_imf_datamapper_api(rng, countries, out_dir):
    """Nested ``values`` maps per (indicator, country).  The IMF
    transformer keeps null values, so invalid cells are non-M49 codes
    and out-of-window years only."""
    groups: dict[tuple, list] = {}
    expected, n_raw, n_bad = [], 0, 0
    for i, c, y, reason, v in _api_cells(rng, countries, reasons=("cty", "year")):
        name = f"IMF indicator {i}, percent [IMF_{i}]"
        iso3 = c[2] if reason != "cty" else "x" + c[2]  # unique per country
        groups.setdefault((name, iso3), []).append((str(y), v))
        n_raw += 1
        if reason == "ok":
            expected.append((name, c[2], y, "Total", v))
        else:
            n_bad += 1
    recs = [{"indicator_name": k[0], "country_code": k[1], "values": sorted(vals)}
            for k, vals in groups.items()]
    t = pa.Table.from_pylist(recs, schema=pa.schema([
        ("indicator_name", pa.string()), ("country_code", pa.string()),
        ("values", pa.map_(pa.string(), pa.float64()))]))
    return _write_parquet(t, os.path.join(out_dir, "imf.parquet")), "payload", expected, n_raw, n_bad


def _gen_unaids_kpatlas(rng, countries, out_dir):
    recs, expected, n_raw, n_bad = [], [], 0, 0
    for i, c, y, reason, v in _api_cells(rng, countries):
        recs.append((f"UNAIDS indicator {i}", _bad_country(rng, c, reason, "iso3"), y,
                     None if reason == "null" else v, "Report", "Total", "pct"))
        n_raw += 1
        if reason == "ok":
            expected.append((f"UNAIDS indicator {i}, pct", c[2], y, "Total", v))
        else:
            n_bad += 1
    names = ["Indicator", "Area ID", "Time Period", "Data value", "Source", "Subgroup", "Unit"]
    types = [pa.string(), pa.string(), pa.int64(), pa.float64(), pa.string(), pa.string(), pa.string()]
    t = pa.table({n: pa.array([r[j] for r in recs], ty) for j, (n, ty) in enumerate(zip(names, types))})
    return _write_parquet(t, os.path.join(out_dir, "unaids.parquet")), "payload", expected, n_raw, n_bad


def _gen_healthdata_ghdx(rng, countries, out_dir):
    """GBD-results CSV by location NAME.  The transformer keeps null
    values, so invalid rows are unknown names and out-of-window years."""
    rows, expected, n_raw, n_bad = [], [], 0, 0
    for i, c, y, reason, v in _api_cells(rng, countries, reasons=("cty", "year")):
        measure, metric = f"Measure {i}", "Rate"
        rows.append([_bad_country(rng, c, reason, "name"), measure, metric, "Both sexes",
                     "15-49 years", "All causes", y, repr(v)])
        n_raw += 1
        if reason == "ok":
            expected.append((f"{metric} of {measure}", c[2], y,
                             "Both; 15-49 years; All causes", v))
        else:
            n_bad += 1
    path = os.path.join(out_dir, "ghdx.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["location_name", "measure_name", "metric_name", "sex_name",
                    "age_name", "cause_name", "year", "val"])
        w.writerows(rows)
    return path, "path", expected, n_raw, n_bad


ENERGY_INDICATOR = (
    "Installed electricity capacity by country/area (MW) by Country/area, "
    "Technology, Grid connection and Year [ELECCAP]"
)


def _gen_energydata_info(rng, countries, out_dir):
    """ELECCAP payload by country NAME.  One indicator; the technology
    stands in for the indicator index.  Nulls are forward-filled by the
    transformer, so invalid rows are unknown names and bad years."""
    techs = ("Solar", "Wind", "Hydro", "Geothermal", "Bioenergy", "Nuclear", "Marine", "Other")
    rows, expected, n_raw, n_bad = [], [], 0, 0
    for i, c, y, reason, v in _api_cells(rng, countries, reasons=("cty", "year")):
        tech = techs[i % len(techs)] + (f" {i // len(techs)}" if i >= len(techs) else "")
        rows.append((len(rows), _bad_country(rng, c, reason, "name"), tech, "On-grid", y, v))
        n_raw += 1
        if reason == "ok":
            expected.append((ENERGY_INDICATOR, c[2], y, f"{tech}; On-grid", v))
        else:
            n_bad += 1
    names = ["_row_id", "c", "tech", "grid", "y", "v"]
    types = [pa.int64(), pa.string(), pa.string(), pa.string(), pa.int64(), pa.float64()]
    t = pa.table({n: pa.array([r[j] for r in rows], ty) for j, (n, ty) in enumerate(zip(names, types))})
    return _write_parquet(t, os.path.join(out_dir, "energy.parquet")), "payload", expected, n_raw, n_bad


# --------------------------------------------------------------------------
# corpus_dedup inputs
# --------------------------------------------------------------------------


@dataclass
class Corpus:
    path: str
    cluster: dict[int, int]  # doc_id -> ground-truth cluster id
    bad: set  # doc ids that fail the quality gate
    stats: dict


def gen_corpus(out_dir: str, seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents of 80-300 words over a 20k-word alphabetic
    vocabulary: 30% near-duplicates (2-5% token edits, clusters of 2-5),
    5% exact copies, 5% docs that fail the quality gate."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed * 4099 + 17)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab: set[str] = set()
    while len(vocab) < 20_000:
        vocab.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    vocab_l = sorted(vocab)
    n_bad, n_exact, n_near = n_docs // 20, n_docs // 20, (n_docs * 3) // 10
    texts: list[str] = []
    cluster: list[int] = []

    def base_doc() -> list[str]:
        return [rng.choice(vocab_l) for _ in range(rng.randint(80, 300))]

    # near-duplicate clusters: a base plus 1-4 edited variants
    near = 0
    while near < n_near:
        base, cid = base_doc(), len(texts)
        texts.append(" ".join(base))
        cluster.append(cid)
        for _ in range(min(rng.randint(1, 4), n_near - near)):
            doc = list(base)
            for _ in range(max(1, int(len(doc) * rng.uniform(0.02, 0.05)))):
                doc[rng.randrange(len(doc))] = rng.choice(vocab_l)
            texts.append(" ".join(doc))
            cluster.append(cid)
            near += 1
    while len(texts) < n_docs - n_bad - n_exact:  # unique docs
        texts.append(" ".join(base_doc()))
        cluster.append(len(texts) - 1)
    for _ in range(n_exact):  # exact copies of clean docs
        src = rng.randrange(len(texts))
        texts.append(texts[src])
        cluster.append(cluster[src])
    bad = set()
    for _ in range(n_bad):  # mostly digits: alpha ratio far below 0.55
        words = [str(rng.randrange(10**6)) for _ in range(rng.randint(80, 300))]
        for j in range(0, len(words), rng.randint(5, 9)):
            words[j] = rng.choice(vocab_l)
        bad.add(len(texts))
        texts.append(" ".join(words))
        cluster.append(len(texts) - 1)
    perm = list(range(len(texts)))
    rng.shuffle(perm)  # doc ids carry no cluster order
    doc_of = {old: new for new, old in enumerate(perm)}
    out_text = [texts[old] for old in perm]
    gt = {doc_of[old]: doc_of[cluster[old]] for old in range(len(texts))}
    bad_ids = {doc_of[b] for b in bad}
    path = os.path.join(out_dir, "corpus.parquet")
    _write_parquet(
        pa.table({"doc_id": pa.array(range(len(out_text)), pa.int64()), "text": out_text}),
        path,
    )
    sizes: dict[int, int] = {}
    for c in gt.values():
        sizes[c] = sizes.get(c, 0) + 1
    stats = {
        "docs": len(out_text),
        "near_dup_share": round(n_near / len(out_text), 4),
        "exact_dup_share": round(n_exact / len(out_text), 4),
        "quality_fail_share": round(len(bad_ids) / len(out_text), 4),
        "clusters_multi": sum(1 for s in sizes.values() if s > 1),
        "bytes": os.path.getsize(path),
    }
    return Corpus(path, gt, bad_ids, stats)
