"""Seeded call-center CRM drop for the `daily_load` workload.

One day's drop holds three arrivals, named the way the CRM export
names them so the engine's filename router picks the chain:

  tbl_estados_operativos.csv  interval-grain agent states, UTF-8, `,`
  tbl_conducta_diaria.csv     agent-day conduct, latin-1, `;`, accented
                              headers, one column the target lacks and
                              the llamados_con_hold pair missing
  zz_operativo_roto.csv       a mangled binary download (NUL bytes)

A fixed share of cells is dirty (`-`, empty, `nan`, `None`, `garbage`,
`1:xx`, `x`), some dates use the short `d/M/yyyy` form, some are
invalid, and a few rows are empty. `manifest.json` records what a
correct load must land: survivors per fecha, per-column checksums
(durations in whole seconds, percentages in tenths, integers as sums),
the schema-drift counts per arrival and the arrival that must fail.

Usage: python3 gen_crm.py <out_dir> <seed> <estados_rows>
"""
import datetime
import functools
import json
import os
import sys

import numpy as np

DAYS = 3
INTERVALS = 16  # one 8-hour shift in 30-minute intervals
DIRTY_SHARE = 0.05
BAD_DATE_SHARE = 0.005
EMPTY_ROWS = 7

FIRST = ["Ana", "Luis", "María", "José", "Lucía", "Íñigo", "Sofía", "Ramón",
         "Paula", "Andrés", "Nuria", "Óscar", "Elena", "Tomás", "Begoña"]
LAST = ["López", "Muñoz", "García", "Pérez", "Ibáñez", "Núñez", "Ruiz",
        "Sánchez", "Gómez", "Martín", "Díaz", "Peña"]
CAMPAIGNS = ["Ventas", "Café", "Niño", "Retención", "Cobranza", "Soporte"]

TIME_NAMES = ["Login", "Login Neto", "Available", "Preview", "Dialing",
              "Ringing", "Talking", "Talking In", "Talking Out", "Hold", "ACW",
              "Other CRM", "Pause"]
ESTADOS_TIME_COLS = (
    ["t_" + n.lower().replace(" ", "_") for n in TIME_NAMES] +
    ["t_diario_" + n.lower().replace(" ", "_") for n in TIME_NAMES])
# The estados export carries every target column.
ESTADOS_HEADER = (["Fecha", "Intervalo", "ID", "Agente", "ID Campaña",
                   "Campaña"] + ["T " + n for n in TIME_NAMES] +
                  ["T Diario " + n for n in TIME_NAMES])

CONDUCTA_COUNTS = [  # (header, target column)
    ("In", "in_total"),
    ("In Rechazadas / Ignoradas", "in_rechazadas_ignoradas"),
    ("In Atendidas", "in_atendidas"),
    ("Out", "out_total"),
    ("Out Rechazadas / Ignoradas", "out_rechazadas_ignoradas"),
    ("Out Atendidas", "out_atendidas"),
    ("Out Dialing", "out_dialing")]
CONDUCTA_TIMES = [
    ("Tiempo Medio De Respuesta In", "tiempo_medio_respuesta_in"),
    ("Tiempo Medio De Respuesta Out", "tiempo_medio_respuesta_out")]
CONDUCTA_INT_COLS = ["id"] + [t for _, t in CONDUCTA_COUNTS]
CONDUCTA_PCT_COLS = ["pct_" + t.replace("_total", "") for _, t in CONDUCTA_COUNTS]
EXTRA_COLUMN = "Supervisor"

# Schema drift the engine must report: conducta lacks the
# llamados_con_hold pair (added_null 2), carries Supervisor (dropped 1)
# and retypes its 18 matched non-string columns; estados retypes its 29
# non-string columns.
EXPECTED_DRIFT = {"tbl_conducta_diaria.csv": 21, "tbl_estados_operativos.csv": 29}
FAILED_ARRIVAL = "zz_operativo_roto.csv"

DIRTY_TIME = ["-", "", "nan", "None", "garbage", "1:xx", "1:2:3:4"]
DIRTY_NUM = ["-", "", "x", "garbage", "nan"]


@functools.lru_cache(maxsize=None)
def _pools(max_secs):
    """Padded `HH:MM:SS`, unpadded `H:M:S` and one-decimal plain-minute
    strings, indexed by whole seconds (plain: by tenths of a minute)."""
    s = np.arange(max_secs + 1)
    h, m, sec = s // 3600, s // 60 % 60, s % 60
    padded = np.array([f"{a:02d}:{b:02d}:{c:02d}" for a, b, c in zip(h, m, sec)], dtype=object)
    loose = np.array([f"{a}:{b}:{c}" for a, b, c in zip(h, m, sec)], dtype=object)
    plain = np.array([f"{t // 10}.{t % 10}" for t in range(max_secs // 6 + 1)], dtype=object)
    return padded, loose, plain


def _durations(rng, n, max_secs):
    """Duration cells and their landed value in whole seconds: 80%
    `HH:MM:SS`, 5% unpadded `H:M:S`, 10% plain minutes with one
    decimal, the rest dirty (lands as 0)."""
    secs = rng.integers(0, max_secs + 1, n)
    tenths = secs // 6  # plain minutes in tenths: 6 s per tenth
    padded, loose, plain = _pools(max_secs)
    form = rng.random(n)
    dirty = np.array(DIRTY_TIME, dtype=object)[rng.integers(0, len(DIRTY_TIME), n)]
    cells = np.where(form < 0.80, padded[secs],
            np.where(form < 0.85, loose[secs],
            np.where(form < 1 - DIRTY_SHARE, plain[tenths], dirty)))
    landed = np.where(form < 0.85, secs, np.where(form < 1 - DIRTY_SHARE, tenths * 6, 0))
    return cells, landed


def _numbers(rng, n, hi, tenths):
    """Count (or one-decimal percentage) cells and their landed value
    (percentages in tenths); dirty cells land as 0."""
    v = rng.integers(0, hi + 1, n)
    cells = [f"{x // 10}.{x % 10}" if tenths else str(x) for x in v.tolist()]
    bad = rng.random(n) < DIRTY_SHARE
    dirty = rng.integers(0, len(DIRTY_NUM), n)
    for i in np.flatnonzero(bad):
        cells[i] = DIRTY_NUM[dirty[i]]
    return cells, np.where(bad, 0, v)


def _dates(rng, days, idx):
    """Fecha cells for day indices `idx` (`dd/MM/yyyy`, 10% `d/M/yyyy`,
    0.5% invalid) and the ISO date each row lands under (None: the row
    is dropped)."""
    n = len(idx)
    short = rng.random(n) < 0.10
    bad = rng.random(n) < BAD_DATE_SHARE
    long_form = np.array([d.strftime("%d/%m/%Y") for d in days], dtype=object)
    short_form = np.array([f"{d.day}/{d.month}/{d.year}" for d in days], dtype=object)
    invalid = np.where(np.arange(n) % 2 == 1, "31/02/2024", "no-date").astype(object)
    cells = np.where(bad, invalid, np.where(short, short_form[idx], long_form[idx]))
    iso = np.array([d.isoformat() for d in days], dtype=object)[idx]
    iso[bad] = None
    return cells, iso


def _ids(rng, ids):
    """Agent id cells, 3% zero-padded (`0042` lands as 42)."""
    pad = rng.random(len(ids)) < 0.03
    return [f"{x:04d}" if p else str(x) for x, p in zip(ids.tolist(), pad)]


def _write(path, header, columns, sep, encoding, rng):
    lines = [sep.join(header)]
    lines += [sep.join(r) for r in zip(*columns)]
    for _ in range(EMPTY_ROWS):  # all-empty rows: dropped on read
        lines.insert(int(rng.integers(1, len(lines))), sep * (len(header) - 1))
    with open(path, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode(encoding))


def _summary(iso, sums):
    """Survivors per fecha plus each checksum column's sum over them."""
    keep = np.array([d is not None for d in iso])
    days, counts = np.unique(iso[keep].astype(str), return_counts=True)
    per = {str(d): int(c) for d, c in zip(days, counts)}
    return {"survivors": per,
            "sums": {c: int(v[keep].sum()) for c, v in sums.items()}}


def make(out_dir, seed, estados_rows):
    rng = np.random.default_rng(seed)
    drop = os.path.join(out_dir, "drop")
    os.makedirs(drop, exist_ok=True)
    base = datetime.date(2024, 1, 1) + datetime.timedelta(days=seed % 300)
    days = [base + datetime.timedelta(days=i) for i in range(DAYS)]
    agents = max(1, estados_rows // (DAYS * INTERVALS))
    names = [f"{FIRST[i % len(FIRST)]} {LAST[i // len(FIRST) % len(LAST)]} {i}"
             for i in range(agents)]

    # estados: one row per (agent, day, interval) in agent-day order
    n = agents * DAYS * INTERVALS
    a = np.repeat(np.arange(agents), DAYS * INTERVALS)
    fecha, iso = _dates(rng, days, np.tile(np.repeat(np.arange(DAYS), INTERVALS), agents))
    slot = np.tile(np.arange(INTERVALS), agents * DAYS) + 16  # from 08:00
    interval = [f"{s // 2:02d}:{s % 2 * 30:02d} - {(s + 1) // 2:02d}:{(s + 1) % 2 * 30:02d}"
                for s in slot.tolist()]
    camp_id, camp_landed = _numbers(rng, n, 20, False)
    cols = [fecha, interval, _ids(rng, a + 1), [names[i] for i in a.tolist()],
            camp_id, [CAMPAIGNS[i % len(CAMPAIGNS)] for i in a.tolist()]]
    sums = {"id": a + 1, "id_campana": camp_landed}
    for j, c in enumerate(ESTADOS_TIME_COLS):
        cells, landed = _durations(rng, n, 1800 if j < 13 else 28800)
        cols.append(cells); sums[c] = landed
    _write(os.path.join(drop, "tbl_estados_operativos.csv"), ESTADOS_HEADER,
           cols, ",", "utf-8", rng)
    estados = _summary(iso, sums)

    # conducta: one row per (agent, day)
    m = agents * DAYS
    ca = np.repeat(np.arange(agents), DAYS)
    cfecha, ciso = _dates(rng, days, np.tile(np.arange(DAYS), agents))
    header = ["Agente", "Fecha", "ID", "Campaña"]
    cols = [[names[i] for i in ca.tolist()], cfecha, _ids(rng, ca + 1),
            [CAMPAIGNS[i % len(CAMPAIGNS)] for i in ca.tolist()]]
    csums = {"id": ca + 1}
    for (h, t), p in zip(CONDUCTA_COUNTS, CONDUCTA_PCT_COLS):
        cells, landed = _numbers(rng, m, 200, False)
        pcells, pct_landed = _numbers(rng, m, 1000, True)
        header += [h, "% " + h]
        cols += [cells, pcells]
        csums[t] = landed; csums[p] = pct_landed
    for h, t in CONDUCTA_TIMES:
        cells, landed = _durations(rng, m, 600)
        header.append(h); cols.append(cells); csums[t] = landed
    header.append(EXTRA_COLUMN)
    cols.append([f"Sup {i % 9}" for i in ca.tolist()])
    _write(os.path.join(drop, "tbl_conducta_diaria.csv"), header, cols, ";",
           "latin-1", rng)
    conducta = _summary(ciso, csums)
    day0 = days[0].isoformat()
    jdbc = _summary(np.where(ciso == day0, ciso, None), csums)

    with open(os.path.join(drop, FAILED_ARRIVAL), "wb") as f:
        f.write(bytes([0x00, 0x13, 0x37, 0x00, 0x7F]) + rng.bytes(64))

    manifest = {
        "seed": seed,
        "estados": estados,
        "conducta": conducta,
        "jdbc_day": day0,
        "jdbc": jdbc,
        "drift": EXPECTED_DRIFT,
        "failed_arrival": FAILED_ARRIVAL,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    make(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
