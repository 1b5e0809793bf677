"""Seeded inputs, independent expectation and output check for the
`medallion` workload.

The generator writes what the reference pipeline consumes: one BCB/SGS
JSON payload per series, the 27-UF IBGE payload, the series control CSV
and a `;`-dialect ANP price CSV. It plants the dirty shapes the silver
tier must handle: pt-BR decimals with thousands separators, unparseable
dates, duplicate natural keys, English decimals in the ANP file, and
non-positive or garbage prices. The incremental step appends `APPEND_DAYS`
days to every non-empty series and a batch of ANP rows dated in those
days.

The expectation is computed with DuckDB over the generated files, written
from the reference semantics, never from the engine's code.
"""
import json
import os
import random
import re
import shutil
from datetime import date, timedelta

import duckdb

UFS = [
    (11, "RO", "Rondônia", "Norte"), (12, "AC", "Acre", "Norte"),
    (13, "AM", "Amazonas", "Norte"), (14, "RR", "Roraima", "Norte"),
    (15, "PA", "Pará", "Norte"), (16, "AP", "Amapá", "Norte"),
    (17, "TO", "Tocantins", "Norte"), (21, "MA", "Maranhão", "Nordeste"),
    (22, "PI", "Piauí", "Nordeste"), (23, "CE", "Ceará", "Nordeste"),
    (24, "RN", "Rio Grande do Norte", "Nordeste"), (25, "PB", "Paraíba", "Nordeste"),
    (26, "PE", "Pernambuco", "Nordeste"), (27, "AL", "Alagoas", "Nordeste"),
    (28, "SE", "Sergipe", "Nordeste"), (29, "BA", "Bahia", "Nordeste"),
    (31, "MG", "Minas Gerais", "Sudeste"), (32, "ES", "Espírito Santo", "Sudeste"),
    (33, "RJ", "Rio de Janeiro", "Sudeste"), (35, "SP", "São Paulo", "Sudeste"),
    (41, "PR", "Paraná", "Sul"), (42, "SC", "Santa Catarina", "Sul"),
    (43, "RS", "Rio Grande do Sul", "Sul"), (50, "MS", "Mato Grosso do Sul", "Centro-Oeste"),
    (51, "MT", "Mato Grosso", "Centro-Oeste"), (52, "GO", "Goiás", "Centro-Oeste"),
    (53, "DF", "Distrito Federal", "Centro-Oeste"),
]
REGION_SIGLA = {"Norte": "N", "Nordeste": "NE", "Sudeste": "SE", "Sul": "S",
                "Centro-Oeste": "CO"}
PRODUCTS = [("GASOLINA", 5.8), ("ETANOL", 3.9), ("DIESEL", 5.9),
            ("DIESEL S10", 6.1), ("GNV", 4.6)]
ANP_HEADER = ("Regiao - Sigla;Estado - Sigla;Municipio;Produto;Data da Coleta;"
              "Valor de Venda;Valor de Compra;Unidade de Medida")
START = date(2022, 1, 1)
APPEND_DAYS = 7
TARGET_SERIES = 11  # summary.md reports selic_sgs_11


def ptbr(v):
    """2-decimal pt-BR text: thousands '.', decimal ','."""
    return f"{v:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")


def _day(d):
    return d.strftime("%d/%m/%Y")


class Inputs:
    """The files of one generated input set, under `root`.

    `series` lists (series_id, series_name, enabled_text, has_data);
    `bcb_payload(sid, step)` is the JSON text the fetcher serves at step
    'base' or 'incr'; `anp_path(step)` is the ANP drop for that step."""

    def __init__(self, root, series):
        self.root, self.series = root, series
        self.series_csv = os.path.join(root, "series.csv")
        self.ibge_json = os.path.join(root, "ibge.json")

    def bcb_file(self, sid, step):
        return os.path.join(self.root, f"bcb_{sid}.{step}.json")

    def bcb_payload(self, sid, step):
        with open(self.bcb_file(sid, step), encoding="utf-8") as f:
            return f.read()

    def anp_path(self, step):
        return os.path.join(self.root, f"anp.{step}.csv")

    def enabled(self):
        return [s for s in self.series if s[2].lower() in ("true", "1", "yes")]


def generate(seed, root, n_series=40, days=3 * 365, anp_rows=1_000_000):
    """Write one seeded input set under `root` and return its Inputs.
    The same seed writes the same bytes."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    ids = [TARGET_SERIES] + rng.sample(range(12, 30000), n_series)
    series = []
    for i, sid in enumerate(ids):
        name = "selic_sgs_11" if sid == TARGET_SERIES else f"serie_sgs_{sid}"
        if i == n_series:  # one disabled series: needs no payload
            series.append((sid, name, "no", False))
            continue
        enabled = rng.choice(["true", "TRUE", "1", "yes", "Yes"])
        series.append((sid, name, enabled, i != n_series - 1))  # last: empty payload
    with open(os.path.join(root, "series.csv"), "w", encoding="utf-8") as f:
        f.write("series_id,series_name,enabled\n")
        for sid, name, en, _ in series:
            f.write(f"{sid},{name},{en}\n")

    total = days + APPEND_DAYS
    for sid, _, en, has_data in series:
        if en == "no":
            continue
        rows = []
        if has_data:
            level = 11.75 if sid == TARGET_SERIES else rng.choice([0.05, 4.2, 118.0, 5300.0])
            for d in range(total):
                level = max(0.01, level * (1 + rng.gauss(0, 0.004)))
                day = START + timedelta(days=d)
                rows.append({"data": _day(day), "valor": ptbr(level)})
                r = rng.random()
                if r < 0.01:  # duplicate natural key with another value
                    rows.append({"data": _day(day), "valor": ptbr(level * 1.01)})
                elif r < 0.015:  # unparseable date: dropped at bronze
                    rows.append({"data": rng.choice(["n/d", "", "31/02/2023"]),
                                 "valor": ptbr(level)})
        # the payload at a step covers the days published by then
        cut = [i for i, r in enumerate(rows) if r["data"] == _day(START + timedelta(days=days))]
        base = rows[:cut[0]] if cut else rows
        for step, part in (("base", base), ("incr", rows)):
            with open(os.path.join(root, f"bcb_{sid}.{step}.json"), "w", encoding="utf-8") as f:
                json.dump(part, f, ensure_ascii=False)

    with open(os.path.join(root, "ibge.json"), "w", encoding="utf-8") as f:
        json.dump([{"id": i, "sigla": s, "nome": n,
                    "regiao": {"id": list(REGION_SIGLA).index(r) + 1,
                               "sigla": REGION_SIGLA[r], "nome": r}}
                   for i, s, n, r in UFS], f, ensure_ascii=False)

    base_lines = _anp_lines(rng, anp_rows, 0, days)
    incr_lines = _anp_lines(rng, max(1, anp_rows // 100), days, days + APPEND_DAYS)
    with open(os.path.join(root, "anp.base.csv"), "w", encoding="utf-8") as f:
        f.write(ANP_HEADER + "\n")
        f.write("\n".join(base_lines) + "\n")
    shutil.copyfile(os.path.join(root, "anp.base.csv"), os.path.join(root, "anp.incr.csv"))
    with open(os.path.join(root, "anp.incr.csv"), "a", encoding="utf-8") as f:
        f.write("\n".join(incr_lines) + "\n")
    return Inputs(root, series)


def _anp_lines(rng, n, d0, d1):
    out = []
    for _ in range(n):
        _, uf, _, reg = rng.choice(UFS)
        prod, base = rng.choice(PRODUCTS)
        day = START + timedelta(days=rng.randrange(d0, d1))
        price = base * (1 + (day - START).days / 4000) + rng.uniform(-0.4, 0.4)
        r = rng.random()
        ptxt = ptbr(price) if r < 0.8 else f"{price:.2f}"  # pt-BR or en
        dtxt = _day(day)
        if r > 0.99:  # garbage, non-positive or missing price
            ptxt = rng.choice(["abc", "", "0,00", "-1,25", "-"])
        elif r > 0.985:  # unparseable date
            dtxt = rng.choice(["", "n/d", "2023-13-45"])
        ufx = rng.choice([uf, uf, uf, f" {uf.lower()} "])
        line = f"{REGION_SIGLA[reg]};{ufx};MUNICIPIO;{prod};{dtxt};{ptxt};;R$ / litro"
        out.append(line)
        if r < 0.02:  # duplicate natural key, same or higher price
            out.append(line if r < 0.01 else
                       f"{REGION_SIGLA[reg]};{uf};MUNICIPIO;{prod};{dtxt};{ptbr(price + 0.5)};;R$ / litro")
    return out


# ---------------------------------------------------------------- expectation

def expected(inputs, step, con=None):
    """Expected silver, gold and summary for `step`, computed with DuckDB
    from the generated files. Returns the connection holding tables
    exp_bcb, exp_anp, exp_bcb_monthly, exp_anp_monthly and the summary text."""
    con = con or duckdb.connect()
    sel = []
    for sid, name, _, _ in inputs.enabled():
        path = inputs.bcb_file(sid, step).replace("'", "''")
        sel.append(f"""SELECT {sid}::BIGINT AS series_id, '{name}' AS series_name,
            try_strptime(data, '%d/%m/%Y') AS date,
            TRY_CAST(replace(replace(valor, '.', ''), ',', '.') AS DOUBLE) AS value
            FROM read_json('{path}', columns={{'data': 'VARCHAR', 'valor': 'VARCHAR'}},
                           format='array')""")
    con.execute(f"""CREATE OR REPLACE TABLE raw_bcb AS {' UNION ALL '.join(sel)}""")
    # keep the smallest value per natural key
    con.execute("""CREATE OR REPLACE TABLE exp_bcb AS
        SELECT series_id, series_name, date, min(value) AS value FROM raw_bcb
        WHERE date IS NOT NULL GROUP BY ALL""")
    anp = inputs.anp_path(step).replace("'", "''")
    con.execute(f"""CREATE OR REPLACE TABLE raw_anp AS SELECT * FROM read_csv('{anp}',
        delim=';', header=true, all_varchar=true, quote='"')""")
    con.execute("""CREATE OR REPLACE TABLE exp_anp AS
        WITH p AS (
          SELECT upper(trim("Estado - Sigla")) AS uf_sigla, trim("Produto") AS product,
                 try_strptime(trim("Data da Coleta"), '%d/%m/%Y') AS date_ref,
                 CASE WHEN contains(trim("Valor de Venda"), ',')
                      THEN TRY_CAST(replace(replace(trim("Valor de Venda"), '.', ''), ',', '.') AS DOUBLE)
                      ELSE TRY_CAST(trim("Valor de Venda") AS DOUBLE) END AS price
          FROM raw_anp)
        SELECT uf_sigla, product, date_ref, min(price) AS price FROM p
        WHERE uf_sigla IS NOT NULL AND product IS NOT NULL AND date_ref IS NOT NULL
          AND price IS NOT NULL AND price > 0
        GROUP BY ALL""")
    ibge = inputs.ibge_json.replace("'", "''")
    con.execute(f"""CREATE OR REPLACE TABLE exp_dim AS
        SELECT id::BIGINT AS uf_id, sigla AS uf_sigla, nome AS uf_nome, regiao.nome AS regiao_nome
        FROM read_json('{ibge}', format='array')""")
    con.execute("""CREATE OR REPLACE TABLE exp_anp_full AS
        SELECT a.*, d.uf_nome, d.regiao_nome FROM exp_anp a LEFT JOIN exp_dim d USING (uf_sigla)""")
    con.execute("""CREATE OR REPLACE TABLE exp_bcb_monthly AS
        SELECT series_id, series_name, date_trunc('month', date)::TIMESTAMP AS month,
               avg(value) AS avg_value, arg_max(value, date) AS last_value
        FROM exp_bcb GROUP BY ALL""")
    con.execute("""CREATE OR REPLACE TABLE exp_anp_monthly AS
        SELECT uf_sigla, product, date_trunc('month', date_ref)::TIMESTAMP AS month, avg(price) AS avg_price
        FROM exp_anp GROUP BY ALL""")
    return con, _summary(con)


def _summary(con):
    lines = []
    tgt = con.execute("""SELECT series_id, series_name, date, value FROM exp_bcb
        WHERE lower(series_name) = 'selic_sgs_11' AND value IS NOT NULL
        ORDER BY date DESC, value DESC LIMIT 1""").fetchall()
    if not tgt:
        lines.append("BCB/SGS - série 'selic_sgs_11' não encontrada no período.")
    else:
        sid, name, d, v = tgt[0]
        lines.append(f"BCB/SGS (série {sid}) - {name}: último valor em "
                     f"{d.date().isoformat()} = {v:.2f}.")
        last2 = con.execute("""SELECT arg_max(value, date) FROM exp_bcb
            WHERE lower(series_name) = 'selic_sgs_11' AND value IS NOT NULL
            GROUP BY date_trunc('month', date) ORDER BY date_trunc('month', date) DESC
            LIMIT 2""").fetchall()
        if len(last2) == 2:
            lines.append(f"Variação vs mês anterior: {last2[0][0] - last2[1][0]:+.2f} "
                         "(variação absoluta).")
    top = con.execute("""WITH m AS (
          SELECT uf_sigla, product, date_trunc('month', date_ref)::TIMESTAMP AS month, avg(price) AS a
          FROM exp_anp GROUP BY ALL),
        c AS (SELECT *, a - lag(a) OVER (PARTITION BY uf_sigla, product ORDER BY month) AS mom FROM m)
        SELECT uf_sigla, product, month, mom FROM c
        WHERE month = (SELECT max(month) FROM m) AND mom IS NOT NULL
        ORDER BY mom DESC, uf_sigla, product LIMIT 3""").fetchall()
    if top:
        lines.append(f"ANP - Destaques de {top[0][2].date().isoformat()}:")
        for uf, prod, _, mom in top:
            lines.append(f"- {uf} / {prod}: variação média {mom:+.2f} (vs mês anterior).")
    else:
        lines.append("ANP - Sem variação mensal suficiente para destacar no período.")
    return "\n".join(lines)


# ---------------------------------------------------------------- output check

def _num_close(a, b, tol):
    """Equal text, except that numbers may differ by `tol` (a half-cent
    rounding of the same value can print either way)."""
    pat = re.compile(r"[+-]?\d+\.\d+")
    if pat.sub("#", a) != pat.sub("#", b):
        return False
    return all(abs(float(x) - float(y)) <= tol
               for x, y in zip(pat.findall(a), pat.findall(b)))


def check(con, summary, out_root):
    """Compare one pipeline run's tiers under `out_root` with the
    expectation in `con`. Returns a list of mismatch descriptions."""
    errs = []
    q = lambda p: p.replace("'", "''")
    silver_bcb = q(f"{out_root}/silver/bcb_sgs.parquet")
    silver_anp = q(f"{out_root}/silver/anp_prices.parquet")
    pairs = [
        ("silver bcb", f"SELECT series_id, series_name, date, value FROM read_parquet('{silver_bcb}/*.parquet')",
         "SELECT series_id, series_name, date, value FROM exp_bcb"),
        ("silver anp", f"SELECT uf_sigla, product, date_ref, price, uf_nome, regiao_nome "
                       f"FROM read_parquet('{silver_anp}/*.parquet')",
         "SELECT uf_sigla, product, date_ref, price, uf_nome, regiao_nome FROM exp_anp_full"),
    ]
    for label, got, exp in pairs:
        n = con.execute(f"""SELECT (SELECT count(*) FROM ({got})), (SELECT count(*) FROM ({exp})),
            (SELECT count(*) FROM (({got}) EXCEPT ALL ({exp}))),
            (SELECT count(*) FROM (({exp}) EXCEPT ALL ({got})))""").fetchone()
        if n[0] != n[1] or n[2] or n[3]:
            errs.append(f"{label}: {n[0]} rows vs {n[1]} expected, {n[2]}/{n[3]} differ")
    gold_bcb = q(f"{out_root}/gold/bcb_monthly")
    gold_anp = q(f"{out_root}/gold/anp_monthly")
    golds = [
        ("gold bcb_monthly",
         f"SELECT series_id::BIGINT AS series_id, series_name, month, avg_value AS a, last_value AS l "
         f"FROM read_parquet('{gold_bcb}/*/*.parquet', hive_partitioning=true)",
         "SELECT series_id, series_name, month, avg_value AS a, last_value AS l FROM exp_bcb_monthly",
         ["series_id", "series_name", "month"]),
        ("gold anp_monthly",
         f"SELECT uf_sigla, product, month, avg_price AS a, 0.0 AS l "
         f"FROM read_parquet('{gold_anp}/*/*.parquet', hive_partitioning=true)",
         "SELECT uf_sigla, product, month, avg_price AS a, 0.0 AS l FROM exp_anp_monthly",
         ["uf_sigla", "product", "month"]),
    ]
    for label, got, exp, keys in golds:
        on = " AND ".join(f"g.{k} = e.{k}" for k in keys)
        n = con.execute(f"""SELECT (SELECT count(*) FROM ({got})), (SELECT count(*) FROM ({exp})),
            (SELECT count(*) FROM ({got}) g JOIN ({exp}) e ON {on}
             WHERE abs(g.a - e.a) <= 1e-6 * greatest(1, abs(e.a)) AND g.l = e.l)""").fetchone()
        if not (n[0] == n[1] == n[2]):
            errs.append(f"{label}: {n[0]} rows vs {n[1]} expected, {n[2]} match")
    try:
        with open(f"{out_root}/gold/summary.md", encoding="utf-8") as f:
            got = f.read().strip()
    except OSError as e:
        got = f"<{e}>"
    if not _num_close(got, summary, 0.0100001):
        errs.append(f"summary.md differs:\n{got}\n--- expected ---\n{summary}")
    return errs
