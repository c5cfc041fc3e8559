"""Independent checks of a benchmark run's outputs.

Nothing here runs Spark or reads a saved copy of earlier output. The
expected ETL results are computed with DuckDB straight from the
generated gzip feeds and reference-dim CSVs; the corpus expectations
come from the generator's ground truth (planted copies, lookup targets)
and an exact Jaccard written out in Python. Each check returns a list
of failure strings; an empty list means the outputs are correct.
"""

import csv
import json
import math
import re

import duckdb

REL_TOL = 1e-9  # double sums: Spark and DuckDB add in different orders
GRANULARITIES = ("week", "month", "quarter", "year")
GLOBAL_RISK, GLOBAL_COUNTRY, UNKNOWN_COUNTRY = 100, "T", "XY"


def _num_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)


def _rows_eq(a, b):
    return len(a) == len(b) and all(
        _num_eq(x, y) if isinstance(x, float) or isinstance(y, float)
        else x == y for x, y in zip(a, b))


def compare(name, expected, actual, limit=3):
    """Compare two {key: row-tuple} maps; doubles at REL_TOL."""
    errs = []
    missing = sorted(set(expected) - set(actual), key=repr)
    extra = sorted(set(actual) - set(expected), key=repr)
    if missing:
        errs.append(f"{name}: {len(missing)} rows missing, e.g. "
                    f"{missing[:limit]}")
    if extra:
        errs.append(f"{name}: {len(extra)} unexpected rows, e.g. "
                    f"{extra[:limit]}")
    bad = [k for k in expected if k in actual
           and not _rows_eq(expected[k], actual[k])]
    if bad:
        errs.append(f"{name}: {len(bad)} rows differ, e.g. "
                    f"{[(k, expected[k], actual[k]) for k in bad[:limit]]}")
    return errs


def _keyed(rows, nkey, name, errs):
    out = {}
    for r in rows:
        k = tuple(r[:nkey])
        if k in out:
            errs.append(f"{name}: duplicate key {k}")
        out[k] = tuple(r[nkey:])
    return out


def _read_csv_dim(path):
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    # Spark's CSV reader turns an empty field into NULL
    return rows[0], [[None if v == "" else v for v in r] for r in rows[1:]]


_UNESCAPE = re.compile(r"\\(.)")
_ESCAPES = {"\\": "\\", "n": "\n", "t": "\t"}


def _read_tsv(path, types):
    with open(path) as f:
        lines = f.read().split("\n")
    out = []
    for line in lines[1:]:
        if not line:
            continue
        out.append([None if v == "\\N" else t(_UNESCAPE.sub(
            lambda m: _ESCAPES[m.group(1)], v))
            for v, t in zip(line.split("\t"), types)])
    return out


class Etl:
    """Expected ETL results for one generated input, from DuckDB."""

    def __init__(self, indir):
        meta = json.load(open(f"{indir}/meta.json"))
        self.con = con = duckdb.connect()
        con.execute(f"""
            create table raw as select * from read_csv(
              '{indir}/feeds/*.csv.gz', header = true, delim = ',',
              columns = {{'ts': 'VARCHAR', 'ip': 'VARCHAR',
                          'risk_id': 'INTEGER', 'asn': 'BIGINT',
                          'cc': 'VARCHAR'}})""")
        _, risk = _read_csv_dim(f"{indir}/risk.csv")
        self.dim_risk = [[int(r[0]), r[1], r[2], r[3] == "true", r[4], r[5],
                          None if r[6] is None else float(r[6]), r[7]]
                         for r in risk]
        con.execute("create table dim_risk (id integer, factor double)")
        con.executemany("insert into dim_risk values (?, ?)",
                        [(r[0], r[6]) for r in self.dim_risk])
        _, self.dim_country = _read_csv_dim(f"{indir}/country.csv")
        _, asn = _read_csv_dim(f"{indir}/asn.csv")
        self.dim_asn = [[int(r[0]), r[1], r[2]] for r in asn]
        # the aggregate: distinct (host, day, risk, asn, country), count
        # per group strictly above the threshold, amplified by the risk
        # dim (NULL factor -> NULL, unmatched risk -> 0)
        con.execute(f"""
            create table fact as
            with t as (select distinct ip, cast(substr(ts, 1, 10) as date)
                         as date, risk_id as risk, asn, cc as country
                       from raw),
                 g as (select date, risk, country, asn, count(*) as count
                       from t group by all
                       having count(*) > {int(meta['threshold'])})
            select g.*, case when d.id is null then 0.0
                             else g.count * d.factor end as count_amplified
            from g left join dim_risk d on g.risk = d.id""")
        self.fact = [tuple(r) for r in con.execute(
            "select cast(date as varchar), risk, country, asn, count, "
            "count_amplified from fact").fetchall()]
        self.cubes = {}
        for g in GRANULARITIES:
            self.cubes[g] = [tuple(r) for r in con.execute(f"""
                select cast(d as varchar),
                       coalesce(risk, {GLOBAL_RISK}),
                       coalesce(country, '{GLOBAL_COUNTRY}'),
                       sum(count), sum(count_amplified)
                from (select cast(date_trunc('{g}', date) as date) as d,
                             risk, country, count, count_amplified
                      from fact)
                group by cube (d, country, risk)""").fetchall()]
        self.dim_date = [tuple(r) for r in con.execute("""
            select cast(date as varchar), month(date), year(date),
                   quarter(date), weekofyear(date),
                   cast(date_trunc('week', date) as varchar),
                   cast(date_trunc('week', date) + interval 6 day as date)
            from (select distinct date from fact)""").fetchall()]
        self.dim_date = [r[:6] + (str(r[6]),) for r in self.dim_date]
        known_cc = {r[0] for r in self.dim_country}
        fact_cc = sorted({r[2] for r in self.fact if r[2] is not None})
        self.repaired_country = self.dim_country + [
            [c, "unknown", "unknown", "unknown", "unknown"]
            for c in fact_cc if c not in known_cc]
        known_asn = {r[0] for r in self.dim_asn}
        first = {}
        for r in self.fact:  # lowest country wins, NULL last, then 'XY'
            a, c = r[3], r[2]
            if a is None or a in known_asn:
                continue
            if a not in first or (c is not None and
                                  (first[a] is None or c < first[a])):
                first[a] = c
        self.repaired_asn = self.dim_asn + [
            [a, "unknown", UNKNOWN_COUNTRY if c is None else c]
            for a, c in sorted(first.items())]

    # --- actual outputs -------------------------------------------------

    def parquet_rows(self, path, cols):
        return [tuple(r) for r in self.con.execute(
            f"select {cols} from read_parquet('{path}', "
            f"hive_partitioning = true)").fetchall()]


def check_etl(indir, work, exp=None):
    exp = exp or Etl(indir)
    serve = f"{work}/serve"
    actual = load_etl(exp, serve, f"{work}/derby")
    errs = compare_etl(exp, actual)
    errs += check_etl_reads(exp, f"{work}/reads.jsonl")
    return errs, exp, actual


def load_etl(exp, serve, derby):
    """Every ETL output as plain Python rows."""
    a = {}
    a["fact_parquet"] = exp.parquet_rows(
        f"{serve}/fact_count/*/*.parquet",
        "cast(date as varchar), risk, country, asn, count, count_amplified")
    with open(f"{serve}/unload/count.csv", newline="") as f:
        a["unload"] = [(r[0][:10], int(r[1]), r[2] or None, int(r[3]),
                        int(r[4]), float(r[5]) if r[5] != "" else None)
                       for r in csv.reader(f)]
    for g in GRANULARITIES:
        a[f"cube_{g}_parquet"] = exp.parquet_rows(
            f"{serve}/agg_risk_country_{g}/*.parquet",
            "cast(date as varchar), risk, country, count, count_amplified")
    a["dim_date_parquet"] = exp.parquet_rows(
        f"{serve}/dim_date/*.parquet",
        "cast(date as varchar), month, year, quarter, week, "
        "cast(week_start as varchar), cast(week_end as varchar)")
    a["dim_country_parquet"] = exp.parquet_rows(
        f"{serve}/dim_country/*.parquet", "id, name, slug, region, continent")
    a["dim_asn_parquet"] = exp.parquet_rows(
        f"{serve}/dim_asn/*.parquet", "number, title, country")
    flt = float
    a["fact_derby"] = _read_tsv(f"{derby}/fact_count.tsv",
                                (str, int, str, int, int, flt))
    for g in GRANULARITIES:
        a[f"cube_{g}_derby"] = _read_tsv(f"{derby}/agg_risk_country_{g}.tsv",
                                         (str, int, str, int, flt))
    a["dim_date_derby"] = _read_tsv(f"{derby}/dim_date.tsv",
                                    (str, int, int, int, int, str, str))
    a["dim_risk_derby"] = _read_tsv(
        f"{derby}/dim_risk.tsv",
        (int, str, str, lambda v: v == "true", str, str, flt, str))
    a["dim_country_derby"] = _read_tsv(f"{derby}/dim_country.tsv",
                                       (str,) * 5)
    a["dim_asn_derby"] = _read_tsv(f"{derby}/dim_asn.tsv", (int, str, str))
    return a


def compare_etl(exp, a):
    errs = []

    def keyed(name, rows, n):
        return _keyed(rows, n, name, errs)

    exp_fact = keyed("expected fact", exp.fact, 4)
    for name in ("fact_parquet", "unload", "fact_derby"):
        errs += compare(name, exp_fact, keyed(name, a[name], 4))
    for g in GRANULARITIES:
        e = keyed(f"expected cube {g}", exp.cubes[g], 3)
        for src in ("parquet", "derby"):
            name = f"cube_{g}_{src}"
            errs += compare(name, e, keyed(name, a[name], 3))
    e = keyed("expected dim_date", exp.dim_date, 1)
    for name in ("dim_date_parquet", "dim_date_derby"):
        errs += compare(name, e, keyed(name, a[name], 1))
    # parquet dims are the repaired ones; the Derby dims are the weekly
    # refresh's reload of the plain reference dims
    errs += compare("dim_country_parquet",
                    keyed("e", exp.repaired_country, 1),
                    keyed("dim_country_parquet", a["dim_country_parquet"], 1))
    errs += compare("dim_asn_parquet", keyed("e", exp.repaired_asn, 1),
                    keyed("dim_asn_parquet", a["dim_asn_parquet"], 1))
    errs += compare("dim_country_derby", keyed("e", exp.dim_country, 1),
                    keyed("dim_country_derby", a["dim_country_derby"], 1))
    errs += compare("dim_asn_derby", keyed("e", exp.dim_asn, 1),
                    keyed("dim_asn_derby", a["dim_asn_derby"], 1))
    errs += compare("dim_risk_derby", keyed("e", exp.dim_risk, 1),
                    keyed("dim_risk_derby", a["dim_risk_derby"], 1))
    return errs


def unload_in_reference_order(a):
    """Whether the unload keeps the reference's ORDER BY: date desc, then
    country, asn, risk ascending. Reported, not gated: the program loses
    the order on every run (see the FOUND line in CHANGES.md)."""
    order = [(r[0], r[2], r[3], r[1]) for r in a["unload"]]
    want = sorted(order)
    want.sort(key=lambda k: k[0], reverse=True)
    return order == want


def _sum(xs):
    xs = [x for x in xs if x is not None]
    return sum(xs) if xs else None


def check_etl_reads(exp, path):
    errs = []
    asn_dim = {r[0]: r for r in exp.repaired_asn}
    cube = {g: {} for g in GRANULARITIES}
    for g in GRANULARITIES:
        for r in exp.cubes[g]:
            cube[g][r[:3]] = r[3:]
    for n, line in enumerate(open(path)):
        q = json.loads(line)
        if "error" in q:
            continue  # counted as failed, not checked
        if q["kind"] == "weekly":
            rows = [r for r in exp.fact if q["from"] <= r[0] <= q["to"]
                    and r[2] == q["country"]]
            want = {}
            for r in rows:
                want.setdefault(r[1], []).append(r)
            want = {(k,): (sum(r[4] for r in v), _sum(r[5] for r in v))
                    for k, v in want.items()}
            got = {(r[0],): tuple(r[1:]) for r in q["rows"]}
        elif q["kind"] == "cell":
            want = {(k[1],): v for k, v in cube[q["granularity"]].items()
                    if k[0] == q["date"] and k[2] == q["country"]}
            got = {(r[0],): tuple(r[1:]) for r in q["rows"]}
        else:
            want = {tuple(r[:4]): (r[4], r[5], asn_dim[r[3]][1],
                                   asn_dim[r[3]][2])
                    for r in exp.fact if r[3] == q["asn"]}
            got = {(r[0], r[1], r[2], q["asn"]): tuple(r[3:])
                   for r in q["rows"]}
            if len(got) != len(q["rows"]):
                errs.append(f"read {n}: duplicate rows")
        errs += [f"read {n} ({q['kind']}): {e}"
                 for e in compare("answer", want, got)]
    return errs


# ------------------------------------------------------------ corpus


def shingles(text, k=3):
    toks = [t for t in re.split(r"[ \t\n\r\f\x0b]+", text.lower()) if t]
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    n = len(a & b)
    return n / (len(a) + len(b) - n)


class Corpus:
    """Ground truth of one generated corpus input."""

    def __init__(self, indir):
        import pyarrow.parquet as pq
        self.meta = json.load(open(f"{indir}/meta.json"))
        self.text = {}
        self.week = {}
        for w in ("week0", "week1", "lookups"):
            t = pq.read_table(f"{indir}/{w}.parquet").to_pydict()
            self.text.update(zip(t["doc_id"], t["text"]))
            self.week[w] = t["doc_id"]
        self.planted = {a for a, _ in self.meta["exact"] + self.meta["near"]}
        self.target = {q: t for q, t in self.meta["lookups"]}


def load_corpus(work):
    con = duckdb.connect()
    a = {}
    a["published"] = [r[0] for r in con.execute(
        f"select doc_id from read_parquet('{work}/corpus/corpus/*/*.parquet',"
        " hive_partitioning = true)").fetchall()]
    a["reports"] = [tuple(r) for r in con.execute(
        f"select batch_max_id, n_batch, n_dropped, n_published from "
        f"read_parquet('{work}/corpus/reports/*/*.parquet', "
        "hive_partitioning = true)").fetchall()]
    a["lookups"] = []
    for line in open(f"{work}/reads.jsonl"):
        q = json.loads(line)
        if "error" not in q:
            a["lookups"].append((q["qid"], [tuple(r) for r in q["rows"]]))
    return a


def compare_corpus(exp, a, threshold=0.7):
    errs = []
    pub = a["published"]
    if len(pub) != len(set(pub)):
        errs.append(f"corpus: {len(pub) - len(set(pub))} doc_ids published "
                    "more than once")
    pub = set(pub)
    for kind in ("exact", "near"):
        leaked = [x for x, _ in exp.meta[kind] if x in pub]
        if leaked:
            errs.append(f"corpus: planted {kind} copies published: "
                        f"{leaked[:5]}")
    want = (set(exp.week["week0"]) | set(exp.week["week1"])) - exp.planted
    if want - pub:
        errs.append(f"corpus: {len(want - pub)} original documents were "
                    f"dropped, e.g. {sorted(want - pub)[:5]}")
    if len(a["reports"]) != 2:
        errs.append(f"corpus: {len(a['reports'])} reports, expected 2")
    for r in a["reports"]:
        if r[1] != r[2] + r[3]:
            errs.append(f"report {r[0]}: n_batch {r[1]} != n_dropped {r[2]}"
                        f" + n_published {r[3]}")
    sh = {}

    def sh_of(i):
        if i not in sh:
            sh[i] = shingles(exp.text[i])
        return sh[i]

    for qid, rows in a["lookups"]:
        others = set()
        for ia, ib, score in rows:
            other = ia if ib == qid else ib
            if qid not in (ia, ib) or other not in pub:
                errs.append(f"lookup {qid}: hit ({ia}, {ib}) is not a "
                            "published document paired with the query")
                continue
            others.add(other)
            j = jaccard(sh_of(qid), sh_of(other))
            if score != j or score < threshold:
                errs.append(f"lookup {qid}: hit {other} scored {score}, "
                            f"exact Jaccard {j}")
        if exp.target[qid] not in others:
            errs.append(f"lookup {qid}: planted target {exp.target[qid]} "
                        "not found")
    return errs


def check_corpus(indir, work):
    exp = Corpus(indir)
    actual = load_corpus(work)
    return compare_corpus(exp, actual), exp, actual


# ---------------------------------------------------------- self-test


def self_test_etl(exp, actual):
    """Corrupt the loaded outputs and require the checks to fail."""
    bad = []
    for name, corrupt in (
            ("drop a fact row", lambda a: a["fact_parquet"].pop()),
            ("perturb a count", lambda a: a["fact_derby"].__setitem__(
                0, a["fact_derby"][0][:4] + [a["fact_derby"][0][4] + 1]
                + a["fact_derby"][0][5:]))):
        a = {k: list(v) for k, v in actual.items()}
        corrupt(a)
        if not compare_etl(exp, a):
            bad.append(f"self-test: '{name}' went unnoticed")
    return bad


def self_test_corpus(exp, actual):
    bad = []
    leak = dict(actual, published=actual["published"] +
                [exp.meta["exact"][0][0]])
    if not compare_corpus(exp, leak):
        bad.append("self-test: a published planted copy went unnoticed")
    qid, rows = actual["lookups"][0]
    skew = dict(actual, lookups=[(qid, [(a, b, s * 0.999)
                                        for a, b, s in rows])])
    if not compare_corpus(exp, skew):
        bad.append("self-test: a perturbed lookup score went unnoticed")
    return bad
