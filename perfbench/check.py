"""Output checks, run after the timed operations.

Survey outputs are recomputed independently in DuckDB from the generated
CSV, following the reference's normalization contract: nulls stringify as
"nan" when grouped, a multi-select cell is deselected only by a blank or
"0" (so "0.0" and "Yes" count as selected), a missing or unparseable
weight is 0, and the top-2-box denominator counts null answers. Corpus
outputs are checked against the planted truth.

Every check returns a list of mismatch descriptions; empty means correct.
"""
import glob
import json
import math
import os
import zipfile

import duckdb

TOL = 1e-9


def _connect(tmp_dir):
    db = duckdb.connect()
    db.execute("SET threads TO 2")
    db.execute(f"SET temp_directory = {_lit(os.path.join(tmp_dir, 'duckdb'))}")
    return db


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))


def _row_close(a, b):
    return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))


def _fsum(xs):
    """Left-to-right double sum, the engine's summation order."""
    total = 0.0
    for x in xs:
        total += x
    return total


def _half_up(x, decimals=1):
    p = math.pow(10, decimals)
    return math.floor(x * p + 0.5) / p


def _same_rows(name, got, want, errors, ordered=False):
    """Compare row lists, as multisets unless ``ordered``."""
    if not ordered:
        key = lambda r: tuple((v is None, "" if v is None else str(v)) for v in r)
        got, want = sorted(got, key=key), sorted(want, key=key)
    if len(got) != len(want):
        errors.append(f"{name}: {len(got)} rows, expected {len(want)}")
        return
    for g, w in zip(got, want):
        if not _row_close(g, w):
            errors.append(f"{name}: row {g} != expected {w}")
            return


class SurveyOracle:
    """The wave as the engine sees it after the codebook recode, in DuckDB."""

    def __init__(self, in_dir, tmp_dir):
        self.db = _connect(tmp_dir)
        cb = self.db.execute(
            "SELECT * FROM read_csv(?, all_varchar=true, header=true)",
            [os.path.join(in_dir, "codebook.csv")]).fetchall()
        self.db.execute(
            "CREATE TABLE raw AS SELECT * FROM read_csv(?, all_varchar=true, header=true)",
            [os.path.join(in_dir, "wave.csv")])
        self.columns = [r[0] for r in self.db.execute("DESCRIBE raw").fetchall()]
        maps = {}
        for column, value, label in cb:
            maps.setdefault(column, {})[value] = label
        sel = []
        for c in self.columns:
            if c in maps:
                cases = " ".join(f"WHEN {_q(c)} = {_lit(v)} THEN {_lit(l)}" for v, l in maps[c].items())
                sel.append(f"CASE {cases} ELSE {_q(c)} END AS {_q(c)}")
            else:
                sel.append(_q(c))
        self.db.execute(
            f"CREATE TABLE wave AS SELECT {', '.join(sel)}, "
            f"coalesce(try_cast(weight AS DOUBLE), 0.0) AS __w FROM raw")

    def q(self, sql, params=None):
        return self.db.execute(sql, params or []).fetchall()

    def selected_counts(self, cols):
        return [[c, self.q(f"SELECT count(*) FROM wave WHERE {_q(c)} IS NOT NULL AND "
                           f"trim({_q(c)}) <> '' AND lower({_q(c)}) <> '0'")[0][0]]
                for c in cols]

    def crosstab(self, rows, cols, base):
        cells = self.q(
            f"SELECT {_q(rows)}, {_q(cols)}, sum(__w) FROM wave WHERE {_q(rows)} IS NOT NULL "
            f"AND {_q(cols)} IS NOT NULL GROUP BY 1, 2")
        rvals = sorted({r for r, _, _ in cells})
        cvals = sorted({c for _, c, _ in cells})
        grid = {(r, c): w for r, c, w in cells}
        counts = [[grid.get((r, c), 0.0) for c in cvals] for r in rvals]
        if base == "row":
            pct = []
            for cs in counts:
                d = _fsum(cs)
                pct.append([_half_up(v / d * 100) if d != 0 else None for v in cs])
        elif base == "col":
            sums = [_fsum(cs[j] for cs in counts) for j in range(len(cvals))]
            pct = [[_half_up(v / sums[j] * 100) if sums[j] != 0 else None
                    for j, v in enumerate(cs)] for cs in counts]
        else:
            grand = _fsum(_fsum(cs) for cs in counts)
            pct = [[_half_up(v / grand * 100) if grand != 0 else None for v in cs]
                   for cs in counts]

        def margins(m, pin_row, pin_col):
            m = [list(r) for r in m]
            if pin_row:
                tot = [[100.0] * len(cvals)] if m else []
            else:
                tot = [[_fsum((r[j] or 0.0) for r in m) for j in range(len(cvals))]]
            full = m + tot
            labels = rvals + ["Total"] * len(tot)
            return [[lab] + r + [100.0 if pin_col else _fsum((v or 0.0) for v in r)]
                    for lab, r in zip(labels, full)]

        out = [r + ["count"] for r in margins(counts, False, False)]
        out += [r + [f"%_{base}"] for r in margins(pct, base == "row", base == "col")]
        return [rows] + cvals + ["Total", "__type__"], out

    def multidim(self, dims):
        """Weighted counts over ``dims`` (null keys kept), percent of total."""
        keys = ", ".join(_q(d) for d in dims)
        rows = self.q(f"SELECT {keys}, sum(__w) FROM wave GROUP BY ALL")
        total = self.q("SELECT sum(__w) FROM wave")[0][0]
        n = len(dims)
        return [list(r) + [_half_up(r[n] / total * 100) if total != 0 else None] for r in rows]

    def nps(self):
        d, p, pr, n = self.q(
            "SELECT count(*) FILTER (s BETWEEN 0 AND 6), count(*) FILTER (s BETWEEN 7 AND 8), "
            "count(*) FILTER (s BETWEEN 9 AND 10), count(s) FROM "
            "(SELECT try_cast(nps_recommend AS DOUBLE) AS s FROM wave)")[0]
        if n == 0:
            return [["nps", None], ["n", 0.0]]
        return [["nps", (pr / n - d / n) * 100], ["n", float(n)], ["promoters", float(pr)],
                ["passives", float(p)], ["detractors", float(d)]]

    def csat(self):
        mean, mx, n, total = self.q(
            "SELECT avg(s), max(s), count(s), count(*) FROM "
            "(SELECT try_cast(osat AS DOUBLE) AS s FROM wave)")[0]
        top2 = self.q("SELECT count(*) FILTER (try_cast(osat AS DOUBLE) >= ?) FROM wave",
                      [mx - 1])[0][0] / total
        return [["mean", mean], ["top2_box", top2], ["n", float(n)]]

    def nps_weighted(self, group):
        return self.q(
            f"SELECT {_q(group)}, coalesce(sum(__w) FILTER (s BETWEEN 0 AND 6), 0.0) AS d, "
            "coalesce(sum(__w) FILTER (s BETWEEN 7 AND 8), 0.0), "
            "coalesce(sum(__w) FILTER (s BETWEEN 9 AND 10), 0.0) AS p, "
            "coalesce(sum(__w) FILTER (s IS NOT NULL), 0.0) AS n, "
            "CASE WHEN n <> 0 THEN (p / n - d / n) * 100 END "
            f"FROM (SELECT *, try_cast(nps_recommend AS DOUBLE) AS s FROM wave) GROUP BY 1")

    def csat_weighted(self, group):
        mx = self.q("SELECT max(try_cast(osat AS DOUBLE)) FROM wave")[0][0]
        return self.q(
            f"SELECT {_q(group)}, coalesce(sum(__w * s) FILTER (s IS NOT NULL), 0.0) / "
            "nullif(sum(__w) FILTER (s IS NOT NULL), 0), "
            "coalesce(sum(__w) FILTER (s >= ?), 0.0) / nullif(sum(__w), 0), "
            "coalesce(sum(__w) FILTER (s IS NOT NULL), 0.0) "
            "FROM (SELECT *, try_cast(osat AS DOUBLE) AS s FROM wave) GROUP BY 1", [mx - 1])


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def _lit(s):
    return "'" + s.replace("'", "''") + "'"


def _table(bundle, name, columns, errors):
    rows = bundle.get(name)
    if rows is None:
        errors.append(f"bundle: table {name} missing")
        return []
    return [[r.get(c) for c in columns] for r in rows]


def survey_wave(in_dir, out_dir, tmp_dir):
    errors = []
    oracle = SurveyOracle(in_dir, tmp_dir)
    with open(os.path.join(in_dir, "mapping.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(out_dir, "bundle.json")) as f:
        bundle = json.load(f)

    groups = {"awareness_unaided": cfg["awareness"]["unaided"],
              "awareness_aided": cfg["awareness"]["aided"],
              "usage_ever_used": cfg["usage"]["ever_used"],
              "usage_bumo": cfg["usage"]["bumo"],
              "usage_consider": cfg["usage"]["consider"]}
    for name, cols in groups.items():
        _same_rows(name, _table(bundle, name, ["brand", "count"], errors),
                   oracle.selected_counts(cols), errors, ordered=True)
    _same_rows("awareness_tom", _table(bundle, "awareness_tom", ["brand", "count"], errors),
               oracle.q("SELECT trim(tom_brand) AS b, count(*) FROM wave "
                        "WHERE b IS NOT NULL AND b <> '' GROUP BY b"), errors)
    _same_rows("satisfaction_summary",
               _table(bundle, "satisfaction_summary", ["metric", "value"], errors),
               oracle.csat(), errors, ordered=True)
    _same_rows("nps_summary", _table(bundle, "nps_summary", ["metric", "value"], errors),
               oracle.nps(), errors, ordered=True)
    tom = [r for r in _table(bundle, "brand_dictionary", ["group", "brand"], errors)
           if r[0] == "TOM"]
    _same_rows("brand_dictionary TOM", tom,
               [["TOM", b] for (b,) in oracle.q(
                   "SELECT DISTINCT trim(tom_brand) AS b FROM wave WHERE b <> '' ORDER BY b")],
               errors, ordered=True)
    for base in ("total", "row", "col"):
        cols, want = oracle.crosstab("region", "gender", base)
        _same_rows(f"crosstab_{base}", _table(bundle, f"crosstab_{base}", cols, errors),
                   want, errors, ordered=True)
    dims = ["region", "gender", "sec"]
    _same_rows("multi_tabulation",
               _table(bundle, "multi_tabulation", dims + ["count", "pct"], errors),
               oracle.multidim(dims), errors)
    _same_rows("nps_weighted",
               _table(bundle, "nps_weighted",
                      ["region", "detractors", "passives", "promoters", "n", "nps"], errors),
               oracle.nps_weighted("region"), errors)
    _same_rows("csat_weighted",
               _table(bundle, "csat_weighted", ["region", "mean", "top2_box", "n"], errors),
               oracle.csat_weighted("region"), errors)

    # full tabulation: every column of the recoded wave, nulls as "nan"
    union = " UNION ALL ".join(
        f"SELECT {_lit(c)} AS \"column\", trim(coalesce({_q(c)}, 'nan')) AS value FROM wave"
        for c in oracle.columns)
    oracle.db.execute(f"CREATE TABLE tab_want AS SELECT \"column\", value, count(*) AS count "
                      f"FROM ({union}) GROUP BY ALL")
    files = glob.glob(os.path.join(out_dir, "tabulation", "*.parquet"))
    if not files:
        errors.append("tabulation: no parquet output")
    else:
        oracle.db.execute("CREATE TABLE tab_got AS SELECT \"column\", value, count FROM read_parquet(?)",
                          [files])
        for a, b in (("tab_got", "tab_want"), ("tab_want", "tab_got")):
            diff = oracle.q(f"SELECT * FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) LIMIT 3")
            if diff:
                errors.append(f"tabulation: rows in {a} but not in {b}: {diff}")

    with zipfile.ZipFile(os.path.join(out_dir, "summary.xlsx")) as z:
        sheets = [n for n in z.namelist() if n.startswith("xl/worksheets/sheet")]
    if len(sheets) != len(bundle):
        errors.append(f"summary.xlsx: {len(sheets)} sheets, expected {len(bundle)}")
    return errors


def _corpus_db(in_dir, tmp_dir):
    db = _connect(tmp_dir)
    db.execute("CREATE TABLE corpus AS SELECT * FROM read_parquet(?)",
               [os.path.join(in_dir, "corpus.parquet")])
    db.execute("CREATE TABLE truth AS SELECT * FROM read_parquet(?)",
               [os.path.join(in_dir, "truth.parquet")])
    return db


def _load_output(db, out_dir, name, errors):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        errors.append(f"{name}: no parquet output")
        return False
    db.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM read_parquet(?)", [files])
    return True


def _recall(db, table):
    """Share of planted duplicates removed: 1 - excess survivors / planted excess."""
    excess, planted = db.execute(
        f"SELECT sum(greatest(kept - 1, 0)), sum(size - 1) FROM ("
        f"SELECT t.cluster, count(*) AS size, count(o.id) AS kept FROM truth t "
        f"LEFT JOIN (SELECT DISTINCT id FROM {table}) o USING (id) "
        f"WHERE t.cluster >= 0 GROUP BY t.cluster)").fetchone()
    return 1.0 - (excess or 0) / planted if planted else 1.0


def _check_dedup(db, errors, recall_floor):
    """Dedup output: input ids only, one row each, every planted singleton
    kept, and the planted clusters collapsed at or above the recall floor."""
    unknown, dups = db.execute(
        "SELECT count(*) FILTER (id NOT IN (SELECT id FROM corpus)), count(*) - count(DISTINCT id) "
        "FROM dedup").fetchone()
    if unknown or dups:
        errors.append(f"dedup: {unknown} ids not in the input, {dups} repeated ids")
    lost = db.execute("SELECT count(*) FROM truth WHERE cluster < 0 AND "
                      "id NOT IN (SELECT id FROM dedup)").fetchone()[0]
    if lost:
        errors.append(f"dedup: {lost} documents outside every planted cluster were dropped")
    r = _recall(db, "dedup")
    if r < recall_floor:
        errors.append(f"dedup: planted-cluster recall {r:.4f} below the floor {recall_floor}")


def corpus_curation(in_dir, out_dir, params, tmp_dir):
    errors = []
    db = _corpus_db(in_dir, tmp_dir)
    if _load_output(db, out_dir, "manifest", errors):
        unknown, dups = db.execute(
            "SELECT count(*) FILTER (id NOT IN (SELECT id FROM corpus)), "
            "count(*) - count(DISTINCT id) FROM manifest").fetchone()
        if unknown or dups:
            errors.append(f"manifest: {unknown} ids not in the input, {dups} repeated ids")
        bad_lang, low_q = db.execute(
            "SELECT count(*) FILTER (t.lang <> 'en'), count(*) FILTER (t.low_quality) "
            "FROM manifest m JOIN truth t USING (id)").fetchone()
        if bad_lang:
            errors.append(f"manifest: {bad_lang} disallowed-language documents survived")
        if low_q:
            errors.append(f"manifest: {low_q} low-quality documents survived")
        splits = {r[0] for r in db.execute("SELECT DISTINCT split FROM manifest").fetchall()}
        if not splits <= {"train", "val", "test"}:
            errors.append(f"manifest: unknown splits {splits}")
        # Recompute the layout: documents concatenate in id order within
        # (split, shard) and chunk every pack_budget tokens. Matching it
        # means no pack mixes splits and no pack exceeds the budget.
        budget, shards = params["pack_budget"], params["shards"]
        bad = db.execute(f"""
            SELECT count(*) FROM (
              SELECT m.*, c.text,
                     sum(m.token_count) OVER (PARTITION BY m.split, m.shard ORDER BY m.id)
                       - m.token_count AS start
              FROM manifest m JOIN corpus c USING (id))
            WHERE shard <> id % {shards}
               OR token_count <> len(string_split_regex(lower(trim(text)), '\\s+'))
               OR pack_id <> start // {budget}
               OR pack_offset <> start % {budget}
               OR pack_offset < 0 OR pack_offset >= {budget}""").fetchone()[0]
        if bad:
            errors.append(f"manifest: {bad} documents break the pack layout "
                          f"(split boundary or token budget {budget})")
        r = _recall(db, "manifest")
        if r < params["clean_recall_floor"]:
            errors.append(f"manifest: planted-cluster recall {r:.4f} below the floor "
                          f"{params['clean_recall_floor']}")
    if _load_output(db, out_dir, "dedup", errors):
        _check_dedup(db, errors, params["recall_floor"])
    return errors


def run(workload, in_dir, out_dir, params, tmp_dir):
    """Checks one workload's outputs; ``tmp_dir`` takes DuckDB's spill files."""
    if workload == "survey_wave":
        return survey_wave(in_dir, out_dir, tmp_dir)
    if workload == "corpus_curation":
        return corpus_curation(in_dir, out_dir, params, tmp_dir)
    raise ValueError(f"unknown workload {workload!r}")
