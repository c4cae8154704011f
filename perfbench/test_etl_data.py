"""Determinism and declared-count checks of the etl_upsert input generator.

    python3 -m pytest perfbench/test_etl_data.py -q
"""

from __future__ import annotations

import collections
import math
import os
import re

import pytest

import etl_data


@pytest.fixture(autouse=True)
def small(monkeypatch):
    monkeypatch.setattr(etl_data, "RECORDS_PER_MONTH", 600)
    monkeypatch.setattr(etl_data, "GEO_ROWS", 3000)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = etl_data.generate(str(tmp_path / "a"), 7)
    b = etl_data.generate(str(tmp_path / "b"), 7)
    c = etl_data.generate(str(tmp_path / "c"), 8)
    fa, fb, fc = (_files(x.root) for x in (a, b, c))
    assert fa == fb
    assert a.declared == b.declared
    assert fa.keys() == fc.keys()
    assert all(fa[k] != fc[k] for k in fa)


def _valid_date(s: str) -> bool:
    m = re.fullmatch(r"(\d{4})(\d{2})(\d{2})", s.strip())
    return bool(m) and 1 <= int(m[2]) <= 12 and 1 <= int(m[3]) <= 31


def test_declared_counts_match_the_files(tmp_path):
    inp = etl_data.generate(str(tmp_path), 3)
    geo = {}
    with open(inp.path(inp.geo_csv)) as f:
        next(f)
        for row in f:
            code, lat, lon = row.strip().split(",")
            geo[code] = (float(lat), float(lon))
    seen = collections.Counter()
    ids = {1: set(), 2: set()}
    redelivered = [n for n in inp.batch2 if "redelivered" in n]
    assert len(inp.batch1) == etl_data.BATCH1_MONTHS and len(redelivered) == 1
    assert len(inp.batch1) + len(inp.batch2) == etl_data.MONTHS + 1
    for b, batch in ((1, inp.batch1), (2, inp.batch2)):
        batch_lines = set()
        for name in batch:
            with open(inp.path(name)) as f:
                lines = f.read().splitlines()
            seen["records"] += len(lines)
            if name in redelivered:
                seen["redelivered_rows"] += len(lines)
                continue
            for line in lines:
                assert len(line) == etl_data.DEATH_LINE_LEN
                if line in batch_lines:
                    seen["duplicate_people"] += 1
                    continue
                batch_lines.add(line)
                code = line[162:167]
                if not (_valid_date(line[81:89]) and _valid_date(line[154:162])):
                    seen["unparseable_dates"] += 1
                elif code not in geo:
                    seen["unknown_insee"] += 1
                elif any(math.isnan(v) for v in geo[code]):
                    seen["nan_coordinates"] += 1
                else:
                    ids[b].add(etl_data.death_id(line))
    plant_names = collections.Counter()
    survivors = set()
    for name in (inp.nuclear_csv, inp.thermal_csv):
        with open(inp.path(name)) as f:
            header = next(f).strip().split(";")
            for row in f:
                rec = dict(zip(header, row.strip().split(";")))
                seen["plant_rows"] += 1
                plant_names[rec["centrale"]] += 1
                if re.fullmatch(r"\d{4}-\d{2}-\d{2}", rec["date_de_mise_en_service_industrielle"]):
                    survivors.add(rec["centrale"])
                else:
                    seen["bad_plant_dates"] += 1
    seen["duplicate_plant_names"] = sum(n - 1 for n in plant_names.values())
    assert dict(seen) == {k: v for k, v in inp.declared.items()}
    assert all(v > 0 for v in inp.declared.values())
    assert ids[1] == inp.expected["ids_batch1"]
    assert ids[2] == inp.expected["ids_batch2"]
    assert survivors == inp.expected["plant_names"]
