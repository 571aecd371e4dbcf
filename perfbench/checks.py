"""Checks of the engine's outputs against computations made apart from
it: DuckDB over the same parquet inputs, and stated properties of the
curated output. Each check returns (name, ok, detail)."""
import glob
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import canon, cell, values_equal  # noqa: E402


def _read(path):
    """Every part file of a Spark parquet output, in part order."""
    files = sorted(glob.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet parts under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def same_frame(got, exp):
    """(ok, detail) of the strict canonical comparison of
    tools/check_oracle.py: columns sorted by name, rows in order, cells
    compared by their textual rendering with no integral-float collapse
    and no numeric tolerance."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} vs {len(exp)}"
    if not values_equal(got, exp):
        i = next(i for i in range(len(got))
                 if any(cell(got.at[i, c]) != cell(exp.at[i, c]) for c in got.columns))
        return False, f"row {i}: {got.iloc[i].to_dict()} vs {exp.iloc[i].to_dict()}"
    return True, f"{len(got)} rows"


def _connect(tables_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')")
    return con


def oracle(facts):
    """Each written query output against DuckDB running the query's
    declared oracle SQL over the same input files."""
    out = []
    if not facts.get("outputs"):
        return out
    con = _connect(facts["tables_dir"], facts["tables"])
    for q in sorted(facts["outputs"]):
        try:
            ok, detail = same_frame(_read(facts["outputs"][q]),
                                    con.execute(facts["oracle_sql"][q]).df())
        except Exception as e:  # a check that cannot run is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        out.append((f"oracle:{q}", ok, detail))
    return out


def quality(facts):
    """The silver quality report against DuckDB SQL over the bronze
    files, and the bronze row counts against the generated counts."""
    out = []
    bronze, report = facts.get("bronze"), facts.get("quality_report")
    if not bronze:
        return out
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("customers", "accounts", "transactions"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{bronze}/{t}/*/*.parquet')")
        n = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        want = facts["generated_rows"][t]
        out.append((f"bronze_rows:{t}", n == want, f"{n} landed, {want} generated"))
    if not report:
        return out
    exp = con.execute(f"""
        WITH grp AS (SELECT replace(replace(lower(email), '4', 'a'), '3', 'e') AS k,
                            COUNT(*) AS n FROM customers GROUP BY 1),
        circ AS (SELECT a.transaction_id FROM transactions a JOIN transactions b
                   ON a.account_id = b.related_account_id
                  AND a.related_account_id = b.account_id
                  AND a.transaction_id < b.transaction_id
                  AND CAST(a.transaction_date AS DATE) = CAST(b.transaction_date AS DATE)
                 WHERE a.transaction_type = 'Transfer' AND b.transaction_type = 'Transfer'
                   AND a.related_account_id IS NOT NULL AND b.related_account_id IS NOT NULL)
        SELECT (SELECT COUNT(*) FROM customers) AS n_customers,
          (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM grp WHERE n > 1) AS n_fuzzy_dups,
          (SELECT COUNT(*) FILTER (WHERE phone IS NULL) FROM customers) AS n_null_phone,
          (SELECT COUNT(*) FILTER (WHERE balance < 0) FROM accounts) AS n_negative_balance,
          (SELECT COUNT(*) FILTER (WHERE transaction_date > TIMESTAMP '{facts["now"]}')
             FROM transactions) AS n_future_dated,
          (SELECT COUNT(*) FROM circ) AS n_circular_pairs""").df()
    try:
        got = _read(report)
        for c in exp.columns:
            g, e = int(got.at[0, c]), int(exp.at[0, c])
            out.append((f"quality:{c}", g == e, f"{g} reported, {e} by DuckDB"))
    except Exception as e:
        out.append(("quality:report", False, f"{type(e).__name__}: {e}"))
    return out


# Share of planted near-duplicate groups that must keep at most one
# member in the curated output (README: "Inputs").
NEAR_DUP_COLLAPSE_MIN = 0.80


def near_dup_groups(docs):
    """Planted near-duplicate groups, found from the text alone: DataGen
    rewrites one word of a near-duplicate to `nd<doc_id>`, so a group is
    that document plus every document equal to it except at that word."""
    words = {int(i): t.split() for i, t in zip(docs["doc_id"], docs["text"])}
    masked = {}
    marked = []
    for i, w in words.items():
        tag = f"nd{i}"
        if tag in w:
            marked.append((i, w.index(tag)))
    by_len = {}
    for i, p in marked:
        by_len.setdefault(len(words[i]), set()).add(p)
    for i, w in words.items():
        for p in by_len.get(len(w), ()):
            masked.setdefault((len(w), p, tuple(w[:p]), tuple(w[p + 1:])), set()).add(i)
    groups = []
    for i, p in marked:
        w = words[i]
        groups.append(masked[(len(w), p, tuple(w[:p]), tuple(w[p + 1:]))])
    return [g for g in groups if len(g) > 1]


def curate(facts):
    """Properties of the packed output of Curate.run."""
    if not facts.get("packed"):
        return []
    out = []
    docs = pd.read_parquet(facts["documents"])
    packed = _read(facts["packed"])
    mc, ctx, chunk = facts["max_copies"], facts["ctx_tokens"], facts["chunk_tokens"]
    ids = set(int(i) for i in docs["doc_id"])
    src = set(int(d) // mc for d in packed["doc_id"])
    out.append(("curate:ids_are_inputs", src <= ids,
                f"{len(src - ids)} packed ids not in the input"))
    exact = docs.groupby("text")["doc_id"].apply(lambda s: set(int(x) for x in s))
    worst = max((len(g & src) for g in exact if len(g) > 1), default=0)
    out.append(("curate:one_per_exact_group", worst <= 1,
                f"at most {worst} survivors in one exact-duplicate group"))
    dup_keys = packed.duplicated(["doc_id", "chunk_idx"]).sum()
    out.append(("curate:chunk_keys_unique", dup_keys == 0, f"{dup_keys} repeated keys"))
    bins = (packed["first_bin"] == packed["tok_start"] // ctx).all()
    out.append(("curate:first_bin", bool(bins), "first_bin == tok_start div ctx"))
    bad = 0
    for _, s in packed.sort_values(["shard", "doc_id", "chunk_idx"]).groupby("shard"):
        start, last = s["tok_start"].tolist(), s["last_bin"].tolist()
        bad += start[0] != 0
        for k in range(len(start) - 1):
            n = start[k + 1] - start[k]
            bad += not (1 <= n <= chunk) or last[k] != (start[k + 1] - 1) // ctx
    out.append(("curate:contiguous_tokens", bad == 0,
                f"{bad} gaps or overlaps in the per-shard token ranges"))
    groups = near_dup_groups(docs)
    collapsed = sum(len(g & src) <= 1 for g in groups)
    rate = collapsed / len(groups) if groups else 1.0
    out.append(("curate:near_dup_collapse", rate >= NEAR_DUP_COLLAPSE_MIN,
                f"{collapsed}/{len(groups)} planted near-duplicate groups "
                f"keep at most one member ({rate:.3f}, need {NEAR_DUP_COLLAPSE_MIN})"))
    return out


def _round_half_up(x, places):
    """Spark's round() of a double: the decimal rendering of x, rounded
    half up."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def profile(facts):
    """TextAnalysis.stats: one row per input document with its token and
    character counts, computed here from the text."""
    if not facts.get("profile"):
        return []
    docs = pd.read_parquet(facts["documents"])
    rows = []
    for i, t in zip(docs["doc_id"], docs["text"]):
        n_tok, n_chr = len(t.split(" ")), len(t)
        rows.append((int(i), n_tok, n_chr, _round_half_up((n_chr - n_tok + 1) / n_tok, 3)))
    exp = pd.DataFrame(rows, columns=["doc_id", "n_tokens", "n_chars", "avg_token_len"])
    try:
        got = _read(facts["profile"])
        ok, detail = same_frame(got.sort_values("doc_id", ignore_index=True),
                                exp.sort_values("doc_id", ignore_index=True))
    except Exception as e:
        ok, detail = False, f"{type(e).__name__}: {e}"
    return [("profile:stats", ok, detail)]


def run_all(facts):
    """Every check that applies to the parts a run's facts describe."""
    out = []
    if "medallion" in facts:
        out += oracle(facts["medallion"]) + quality(facts["medallion"])
    if "curate" in facts:
        out += profile(facts["curate"]) + curate(facts["curate"])
    if "queries" in facts:
        out += oracle(facts["queries"])
    return out
