"""Seeded INMET station-CSV generator with engine-free expectations.

Writes one dual-section file per station in the FIXTURES.md §A layout:
eight ``KEY:;value`` metadata lines encoded ISO-8859-1 (accented keys
such as ``REGIÃO:``/``ESTAÇÃO:`` on some stations, multi-word station
names, founding dates in both ``dd/MM/yy`` and ``dd/MM/yyyy``), then a
UTF-8 header of the 19 INMET measurement columns and one hourly row per
hour from 2025-01-01 00:00 to 2025-06-30 23:00 (4,344 rows). Every line
ends with ``;``; numbers use a decimal comma, including the bare ``,9``
form, and measure cells are sometimes ``None`` or empty.

:func:`write_inmet` also returns what ``run_pipeline`` must produce,
computed here in plain Python from the values it wrote: row counts per
output table, the sum of ``registros_horarios`` and every monthly KPI row.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections import defaultdict

FIRST_DAY = dt.date(2025, 1, 1)
N_DAYS = 181  # 2025-01-01 .. 2025-06-30
ROWS_PER_FILE = N_DAYS * 24

HEADER = (
    "Data;Hora UTC;PRECIPITAÇÃO TOTAL, HORÁRIO (mm);"
    "PRESSAO ATMOSFERICA AO NIVEL DA ESTACAO, HORARIA (mB);"
    "PRESSÃO ATMOSFERICA MAX.NA HORA ANT. (AUT) (mB);"
    "PRESSÃO ATMOSFERICA MIN. NA HORA ANT. (AUT) (mB);"
    "RADIACAO GLOBAL (Kj/m²);"
    "TEMPERATURA DO AR - BULBO SECO, HORARIA (°C);"
    "TEMPERATURA DO PONTO DE ORVALHO (°C);"
    "TEMPERATURA MÁXIMA NA HORA ANT. (AUT) (°C);"
    "TEMPERATURA MÍNIMA NA HORA ANT. (AUT) (°C);"
    "TEMPERATURA ORVALHO MAX. NA HORA ANT. (AUT) (°C);"
    "TEMPERATURA ORVALHO MIN. NA HORA ANT. (AUT) (°C);"
    "UMIDADE REL. MAX. NA HORA ANT. (AUT) (%);"
    "UMIDADE REL. MIN. NA HORA ANT. (AUT) (%);"
    "UMIDADE RELATIVA DO AR, HORARIA (%);"
    "VENTO, DIREÇÃO HORARIA (gr) (° (gr));"
    "VENTO, RAJADA MAXIMA (m/s);"
    "VENTO, VELOCIDADE HORARIA (m/s);"
)

# The three reference stations first (FIXTURES.md §A), ordered so that any
# two stations already cover both founding-date formats and a multi-word
# name; then synthetic ones.
_FIXED = [
    ("SE", "MG", "UBERLANDIA", "A507", "-18,91694443", "-48,25555555", "874,77", "18/12/02"),
    ("SE", "MG", "MONTE VERDE", "A509", "-22,86166666", "-46,04333333", "1544,89", "19/12/2004"),
    ("SE", "MG", "ALMENARA", "A508", "-16,16666666", "-40,68777777", "189,00", "11/07/2003"),
]
_NAME_PARTS = ["SÃO", "JOSÉ", "CONCEIÇÃO", "DAS", "ALAGOAS", "MONTE", "VERDE",
               "SERRA", "DO", "CIPÓ", "ITAÚNA", "BARÃO", "CAMPO", "BELO", "RIO"]
_UFS = [("SE", "MG"), ("SE", "SP"), ("SE", "RJ"), ("NE", "BA"), ("CO", "GO"), ("S", "PR")]


def _dec(v: float, digits: int = 1) -> str:
    """Decimal-comma rendering; values in (0, 1) drop the leading zero
    (``,9``) the way some INMET exports do."""
    s = f"{v:.{digits}f}".replace(".", ",")
    return s[1:] if s.startswith("0,") and s != "0,0" else s


def _stations(rng: random.Random, n: int) -> list[tuple]:
    out = list(_FIXED[:n])
    i = len(out)
    while len(out) < n:
        regiao, uf = _UFS[i % len(_UFS)]
        name = " ".join(rng.sample(_NAME_PARTS, 1 + i % 3))
        day, month = 1 + rng.randrange(28), 1 + rng.randrange(12)
        year = 2000 + rng.randrange(20)
        founded = (f"{day:02d}/{month:02d}/{year % 100:02d}" if i % 2
                   else f"{day:02d}/{month:02d}/{year}")
        out.append((regiao, uf, name, f"A{600 + i}",
                    _dec(-(5 + rng.random() * 25), 8), _dec(-(35 + rng.random() * 20), 8),
                    _dec(50 + rng.random() * 1200, 2), founded))
        i += 1
    return out


def _measure(rng: random.Random, value: str) -> tuple[str, float]:
    """A used measure cell and the value the pipeline must read from it:
    ``None`` and empty cells zero-fill to 0.0."""
    r = rng.random()
    if r < 0.01:
        return "None", 0.0
    if r < 0.02:
        return "", 0.0
    return value, float(value.replace(",", "."))


def write_inmet(out_dir: str, n_stations: int, seed: int) -> dict:
    """Write ``n_stations`` station CSVs under ``out_dir`` and return the
    expectations: ``counts`` (rows per output table), ``registros``
    (sum of ``registros_horarios``), ``kpis`` (``{(cidade_sk, ano, mes):
    (temp_media, temp_max, precip_total, dias_com_precip)}``) and
    ``rows``/``bytes`` of the input."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    kpis = {}
    n_bytes = 0
    for k, (regiao, uf, estacao, wmo, lat, lon, alt, founded) in enumerate(
        _stations(rng, n_stations)
    ):
        accented = k % 2 == 1
        meta = (
            f"{'REGIÃO' if accented else 'REGIAO'}:;{regiao}\n"
            f"UF:;{uf}\n"
            f"{'ESTAÇÃO' if accented else 'ESTACAO'}:;{estacao}\n"
            f"CODIGO (WMO):;{wmo}\n"
            f"LATITUDE:;{lat}\n"
            f"LONGITUDE:;{lon}\n"
            f"ALTITUDE:;{alt}\n"
            f"DATA DE FUNDACAO:;{founded}\n"
        )
        lines = [HEADER]
        # per day: [sum temp, max temp, sum precip, hours]
        days = defaultdict(lambda: [0.0, float("-inf"), 0.0, 0])
        base_t = 18 + rng.random() * 8
        for d in range(N_DAYS):
            day = FIRST_DAY + dt.timedelta(days=d)
            rainy = rng.random() < 0.3
            acc = days[day]
            for h in range(24):
                t = base_t + 6 * ((h - 6) % 24 < 12) + rng.gauss(0, 2)
                p = 900 + rng.random() * 30
                precip, pv = _measure(rng, _dec(rng.random() * 8) if rainy and rng.random() < 0.4 else "0")
                pmax, _ = _measure(rng, _dec(p + 0.5))
                temp, tv = _measure(rng, _dec(t))
                umid, _ = _measure(rng, str(40 + rng.randrange(60)))
                vento, _ = _measure(rng, _dec(rng.random() * 6))
                radiacao = "" if h < 9 or h > 21 else _dec(rng.random() * 3000)
                lines.append(";".join([
                    day.strftime("%Y/%m/%d"), f"{h:02d}00 UTC", precip, _dec(p), pmax,
                    _dec(p - 0.5), radiacao, temp, _dec(t - 3), _dec(t + 0.4), _dec(t - 0.4),
                    _dec(t - 2.6), _dec(t - 3.4), "90", "80", umid,
                    str(rng.randrange(360)), _dec(rng.random() * 12), vento,
                ]) + ";")
                acc[0] += tv
                acc[1] = max(acc[1], tv)
                acc[2] += pv
                acc[3] += 1
        raw = meta.encode("iso-8859-1") + ("\n".join(lines) + "\n").encode("utf-8")
        name = estacao.replace(" ", "_")
        with open(os.path.join(out_dir, f"INMET_{regiao}_{uf}_{wmo}_{name}.csv"), "wb") as f:
            f.write(raw)
        n_bytes += len(raw)
        sk = f"{wmo}-{uf}-{estacao}"
        months = defaultdict(list)
        for day, (ts, tmax, pr, n) in days.items():
            months[day.month].append((ts / n, tmax, pr))
        for mes, vals in months.items():
            kpis[(sk, 2025, mes)] = (
                sum(v[0] for v in vals) / len(vals),
                max(v[1] for v in vals),
                sum(v[2] for v in vals),
                sum(1 for v in vals if v[2] > 0),
            )
    rows = n_stations * ROWS_PER_FILE
    counts = {
        "cidades": n_stations,
        "dim_cidade_atributos": n_stations,
        "datas": N_DAYS,
        "previsoes": rows,
        "fato_agg_previsoes_dia": n_stations * N_DAYS,
        "cidade_kpis_mensal": len(kpis),
    }
    return {"counts": counts, "registros": rows, "kpis": kpis,
            "rows": rows, "bytes": n_bytes}
