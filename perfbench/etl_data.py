"""Seeded inputs for the `etl_upsert` workload: the paper's ingest job.

``generate(directory, seed)`` writes twelve monthly fixed-width death
files (the engine's death-record layout, 167 characters a line), one
re-delivered copy of month 3, an INSEE commune → GPS CSV and the
nuclear / thermal plant CSVs. Every dirty row is planted on purpose and
declared in ``Inputs.declared``; the values the pipeline must produce
(the exact death ids of each batch, the surviving plant names) are
predicted from the generator's own records in ``Inputs.expected``.

Dirty kinds (each death record has exactly one kind):
- ``unparseable_dates``: birth or death date that no supported format reads;
- ``unknown_insee``: death location code absent from the geo CSV;
- ``nan_coordinates``: code whose geo row has NaN latitude/longitude;
- ``duplicate_people``: exact copy of an earlier valid record of the same batch;
- ``redelivered_rows``: every line of the re-delivered month.
Plants: ``duplicate_plant_names`` (extra units of one plant) and
``bad_plant_dates`` (commissioning dates no format reads).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np

MONTHS = 12
BATCH1_MONTHS = 8
REDELIVERED_MONTH = 3
RECORDS_PER_MONTH = 6000
GEO_ROWS = 35000
NUCLEAR_PLANTS = 60
THERMAL_PLANTS = 40
RADIUS_KM = 10.0

# Kind shares of the generated (non-duplicate) records.
_P_BAD_DATE, _P_UNKNOWN, _P_NAN, _P_DUP = 0.02, 0.02, 0.01, 0.01
_NAN_GEO_SHARE = 0.01
_P_BAD_PLANT_DATE = 0.1

_SURNAMES = "MARTIN BERNARD THOMAS PETIT ROBERT RICHARD DURAND DUBOIS MOREAU LAURENT".split()
_FIRSTS = "JEAN MARIE PIERRE ANNE LOUIS JEANNE PAUL MARGUERITE HENRI ALICE".split()
_JUNK_DATES = ["19XX0101", "000000??", "        ", "2023-13-", "NA"]
# France bounding box: deaths and plants share it so the proximity join has work.
_LAT, _LON = (42.3, 51.1), (-4.8, 8.2)

DEATH_LINE_LEN = 167
_NUCLEAR_HEADER = [
    "centrale", "tranche", "filiere", "fuel", "point_gps_wsg84",
    "date_de_mise_en_service_industrielle", "puissance_installee", "commune",
]
_THERMAL_HEADER = [
    "tri", "filiere", "centrale", "tranche", "fuel",
    "date_de_mise_en_service_industrielle", "puissance_installee", "point_gps_wsg84", "commune",
]


def death_id(line: str) -> str:
    """The pipeline's anonymizing id: sha1 of the first 80 characters."""
    return hashlib.sha1(line[:80].encode()).hexdigest()


def death_line(name: str, birth: str, death: str, insee: str) -> str:
    rec = name.ljust(80)[:80] + "1" + birth + "PLACE".ljust(65) + death + insee
    assert len(rec) == DEATH_LINE_LEN
    return rec


@dataclass
class Inputs:
    root: str
    batch1: list[str]  # file names, delivered first
    batch2: list[str]  # remaining months + the re-delivered month
    geo_csv: str
    nuclear_csv: str
    thermal_csv: str
    declared: dict[str, int] = field(default_factory=dict)
    expected: dict[str, object] = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def raw_bytes(self) -> int:
        names = [*self.batch1, *self.batch2, self.geo_csv, self.nuclear_csv, self.thermal_csv]
        return sum(os.path.getsize(self.path(f)) for f in names)


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="ascii", newline="") as f:
        f.write(text)


def _geo(rng: np.random.Generator) -> tuple[list[str], list[str], list[str], list[str]]:
    """(csv rows, codes with coordinates, codes with NaN coordinates, absent codes)."""
    codes = [f"{c:05d}" for c in rng.choice(100000, GEO_ROWS + 5000, replace=False)]
    known, unknown = codes[:GEO_ROWS], codes[GEO_ROWS:]
    nan_mask = rng.random(GEO_ROWS) < _NAN_GEO_SHARE
    nan_codes = [c for c, m in zip(known, nan_mask) if m]
    good_codes = [c for c, m in zip(known, nan_mask) if not m]
    lat = rng.uniform(*_LAT, GEO_ROWS)
    lon = rng.uniform(*_LON, GEO_ROWS)
    rows = ["code_commune_INSEE,latitude,longitude"]
    for c, m, a, o in zip(known, nan_mask, lat, lon):
        rows.append(f"{c},NaN,NaN" if m else f"{c},{a:.6f},{o:.6f}")
    return rows, good_codes, nan_codes, unknown


def _month(
    rng: np.random.Generator,
    month: int,
    serial: int,
    good: list[str],
    nan_codes: list[str],
    unknown: list[str],
    batch_valid: list[str],
    counts: dict[str, int],
) -> tuple[list[str], list[str], int]:
    """One monthly file. Returns (lines, ids of its valid records, next serial)."""
    n = RECORDS_PER_MONTH
    kind = rng.random(n).tolist()
    pick = rng.random(n).tolist()  # which earlier record a duplicate copies
    first = rng.integers(0, len(_FIRSTS), n).tolist()
    birth = [f"{y}{m:02d}{d:02d}" for y, m, d in zip(
        rng.integers(1920, 2000, n).tolist(), rng.integers(1, 13, n).tolist(),
        rng.integers(1, 29, n).tolist())]
    death = [f"2023{month:02d}{d:02d}" for d in rng.integers(1, 29, n).tolist()]
    code = [good[i] for i in rng.integers(0, len(good), n).tolist()]
    alt_code = rng.random(n).tolist()
    junk = [_JUNK_DATES[i].ljust(8)[:8] for i in rng.integers(0, len(_JUNK_DATES), n).tolist()]
    junk_birth = (rng.random(n) < 0.5).tolist()
    lines, valid_ids = [], []
    for k in range(n):
        u = kind[k]
        if u < _P_DUP and batch_valid:
            lines.append(batch_valid[int(pick[k] * len(batch_valid))])
            counts["duplicate_people"] += 1
            continue
        serial += 1
        name = f"{_SURNAMES[serial % 10]}{serial:07d}*{_FIRSTS[first[k]]}/"
        b, d, c = birth[k], death[k], code[k]
        u -= _P_DUP
        if 0 <= u < _P_BAD_DATE:
            b, d = (junk[k], d) if junk_birth[k] else (b, junk[k])
            counts["unparseable_dates"] += 1
        elif 0 <= u - _P_BAD_DATE < _P_UNKNOWN:
            c = unknown[int(alt_code[k] * len(unknown))]
            counts["unknown_insee"] += 1
        elif 0 <= u - _P_BAD_DATE - _P_UNKNOWN < _P_NAN:
            c = nan_codes[int(alt_code[k] * len(nan_codes))]
            counts["nan_coordinates"] += 1
        else:
            line = death_line(name, b, d, c)
            valid_ids.append(death_id(line))
            batch_valid.append(line)
            lines.append(line)
            continue
        lines.append(death_line(name, b, d, c))
    return lines, valid_ids, serial


def _plants(
    rng: np.random.Generator, prefix: str, n_plants: int, fuel: str, header: list[str],
    counts: dict[str, int], survivors: set[str],
) -> str:
    rows = [";".join(header)]
    for p in range(n_plants):
        name = f"{prefix}_{p:03d}"
        lat, lon = rng.uniform(*_LAT), rng.uniform(*_LON)
        units = int(rng.integers(1, 5))
        counts["plant_rows"] += units
        counts["duplicate_plant_names"] += units - 1
        for u in range(units):
            if rng.random() < _P_BAD_PLANT_DATE:
                date = "inconnue"
                counts["bad_plant_dates"] += 1
            else:
                date = f"{int(rng.integers(1960, 2020))}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}"
                survivors.add(name)
            vals = {
                "tri": str(p), "centrale": name, "tranche": f"{name} {u + 1}",
                "filiere": prefix, "fuel": fuel,
                "point_gps_wsg84": f"{lat:.6f},{lon:.6f}",
                "date_de_mise_en_service_industrielle": date,
                "puissance_installee": f"{float(rng.integers(100, 1500))}",
                "commune": f"COMMUNE{p}",
            }
            rows.append(";".join(vals[h] for h in header))
    return "\n".join(rows) + "\n"


def generate(directory: str, seed: int) -> Inputs:
    """Write every input file under ``directory``; same seed, same bytes."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 0xE7])
    counts = dict.fromkeys(
        ["records", "unparseable_dates", "unknown_insee", "nan_coordinates",
         "duplicate_people", "redelivered_rows", "plant_rows",
         "duplicate_plant_names", "bad_plant_dates"], 0)
    geo_rows, good, nan_codes, unknown = _geo(rng)
    inp = Inputs(directory, [], [], "city_geo_loc.csv", "nuclear.csv", "thermal_plants_.csv")
    _write(inp.path(inp.geo_csv), "\n".join(geo_rows) + "\n")

    serial, ids = 0, {1: set(), 2: set()}
    valid_lines: dict[int, list[str]] = {1: [], 2: []}
    month_text: dict[int, str] = {}
    for month in range(1, MONTHS + 1):
        batch = 1 if month <= BATCH1_MONTHS else 2
        lines, vids, serial = _month(
            rng, month, serial, good, nan_codes, unknown, valid_lines[batch], counts
        )
        ids[batch].update(vids)
        name = f"deaths_2023_{month:02d}.txt"
        month_text[month] = "\n".join(lines) + "\n"
        _write(inp.path(name), month_text[month])
        (inp.batch1 if batch == 1 else inp.batch2).append(name)
        counts["records"] += len(lines)
    redelivered = f"deaths_2023_{REDELIVERED_MONTH:02d}_redelivered.txt"
    _write(inp.path(redelivered), month_text[REDELIVERED_MONTH])
    inp.batch2.append(redelivered)
    counts["redelivered_rows"] = month_text[REDELIVERED_MONTH].count("\n")
    counts["records"] += counts["redelivered_rows"]

    survivors: set[str] = set()
    _write(inp.path(inp.nuclear_csv), _plants(
        rng, "NUC", NUCLEAR_PLANTS, "Enriched Uranium", _NUCLEAR_HEADER, counts, survivors))
    _write(inp.path(inp.thermal_csv), _plants(
        rng, "THE", THERMAL_PLANTS, "Gas", _THERMAL_HEADER, counts, survivors))
    inp.declared = counts
    inp.expected = {
        "ids_batch1": ids[1],
        "ids_batch2": ids[2] - ids[1],
        "plant_names": survivors,
    }
    return inp
