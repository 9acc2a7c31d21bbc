"""Checks of the CRM drop generator: run with
`python3 -m pytest perfbench/test_gen_crm.py` from the checkout root.

The manifest is re-derived here from the written files alone, with an
independent reading of the landing rules (day-first dates, lenient
numbers, `H:M:S` / `H:M` / plain-minute durations, garbage as 0), so a
generator bug cannot hide behind the values it kept in memory.
"""
import csv
import datetime
import filecmp
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_crm  # noqa: E402

NUM = re.compile(r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)$")


def minutes(cell):
    s = (cell or "").strip()
    if s in ("", "-", "nan", "None"):
        return 0.0
    if ":" in s:
        parts = s.split(":")
        if len(parts) not in (2, 3) or not all(re.fullmatch(r"[0-9]+", p) for p in parts):
            return 0.0
        p = [int(x) for x in parts]
        return p[0] * 60 + p[1] + (p[2] / 60 if len(p) == 3 else 0)
    return float(s) if NUM.match(s) else 0.0


def lenient(cell):
    s = (cell or "").strip()
    return float(s) if NUM.match(s) else 0.0


def day_first(cell):
    try:
        d, m, y = (int(x) for x in cell.split("/"))
        return datetime.date(y, m, d).isoformat()
    except ValueError:
        return None


def landed(path, encoding, sep, secs, tenths, ints, names):
    """Survivors per fecha and checksums, read back from one CSV."""
    with open(path, encoding=encoding, newline="") as f:
        rows = [r for r in csv.reader(f, delimiter=sep)]
    header, body = rows[0], [r for r in rows[1:] if any(r)]
    col = {names.get(h, h): i for i, h in enumerate(header)}
    survivors, sums = {}, {c: 0 for c in secs + tenths + ints}
    for r in body:
        day = day_first(r[col["fecha"]])
        if day is None:
            continue
        survivors[day] = survivors.get(day, 0) + 1
        for c in secs:
            sums[c] += round(minutes(r[col[c]]) * 60)
        for c in tenths:
            sums[c] += round(lenient(r[col[c]]) * 10)
        for c in ints:
            sums[c] += int(lenient(r[col[c]]))
    return {"survivors": survivors, "sums": sums}


def test_manifest_matches_written_files(tmp_path):
    m = gen_crm.make(str(tmp_path), 11, 2000)
    drop = tmp_path / "drop"
    est_names = {"Fecha": "fecha", "ID": "id", "ID Campaña": "id_campana"}
    est_names.update({h: c for h, c in zip(gen_crm.ESTADOS_HEADER[6:],
                                           gen_crm.ESTADOS_TIME_COLS)})
    est = landed(drop / "tbl_estados_operativos.csv", "utf-8", ",",
                 gen_crm.ESTADOS_TIME_COLS, [], ["id", "id_campana"], est_names)
    assert est == m["estados"]

    con_names = {"Fecha": "fecha", "ID": "id"}
    con_names.update(dict(gen_crm.CONDUCTA_COUNTS))
    con_names.update({"% " + h: p for (h, _), p in
                      zip(gen_crm.CONDUCTA_COUNTS, gen_crm.CONDUCTA_PCT_COLS)})
    con_names.update(dict(gen_crm.CONDUCTA_TIMES))
    args = (drop / "tbl_conducta_diaria.csv", "latin-1", ";",
            [t for _, t in gen_crm.CONDUCTA_TIMES], gen_crm.CONDUCTA_PCT_COLS,
            gen_crm.CONDUCTA_INT_COLS, con_names)
    assert landed(*args) == m["conducta"]
    assert m["jdbc"]["survivors"] == {m["jdbc_day"]: m["conducta"]["survivors"][m["jdbc_day"]]}


def test_drop_shape(tmp_path):
    m = gen_crm.make(str(tmp_path), 3, 2000)
    drop = tmp_path / "drop"
    conducta = (drop / "tbl_conducta_diaria.csv").read_bytes()
    try:
        conducta.decode("utf-8")
        raise AssertionError("conducta must not be valid UTF-8")
    except UnicodeDecodeError:
        pass
    assert "Campaña".encode("latin-1") in conducta.split(b"\n")[0]
    (drop / "tbl_estados_operativos.csv").read_bytes().decode("utf-8")
    assert b"\x00" in (drop / m["failed_arrival"]).read_bytes()
    assert len(m["estados"]["survivors"]) == gen_crm.DAYS
    dirty = sum(c in ("-", "garbage", "1:xx") for line in
                (drop / "tbl_estados_operativos.csv").read_text("utf-8").splitlines()
                for c in line.split(","))
    assert dirty > 0


def test_same_seed_same_bytes(tmp_path):
    gen_crm.make(str(tmp_path / "a"), 5, 1000)
    gen_crm.make(str(tmp_path / "b"), 5, 1000)
    for f in os.listdir(tmp_path / "a" / "drop"):
        assert filecmp.cmp(tmp_path / "a" / "drop" / f, tmp_path / "b" / "drop" / f,
                           shallow=False)
    with open(tmp_path / "a" / "manifest.json") as x, open(tmp_path / "b" / "manifest.json") as y:
        assert json.load(x) == json.load(y)
