#!/usr/bin/env python
"""Scaling slopes of the most expensive queries, written to SCALING.md.

Usage:
  python tools/scaling.py [N | name ...]   the N (default 10) slowest queries
      of bench_detail.json, or the named ones, at sf0.001, sf0.01 and sf0.1
  python tools/scaling.py --synth-decade   relational/graph queries at sf0.1
      and at a key-shifted, text-free 10x replication of lineitem/orders
  python tools/scaling.py --dedup-decade   the dedup family at 5k and 50k
      hash-derived distinct-text documents

Each mode rewrites only its own section of SCALING.md. slope =
log(t_big / t_small) / log(data ratio): ~0 means fixed overhead (bounded-core
witnesses, superstep scheduling) dominates, ~1 linear in the data, >1
super-linear. Every cell is min-of-2 through bench.py's ``time_query``.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = ("0.001", "0.01", "0.1")
MAIN_MARK = "# SCALING"
SYNTH_MARK = "## Synthetic text-free decade"
DEDUP_MARK = "## Dedup-family synthetic decade"

# Relational/graph queries whose inputs are the key-shifted fact tables
# (lineitem/orders) and the graph built over them — NO document text,
# embeddings, or similarity family (their replicated-text objection is
# documented in the 'Why no sf1 column' section: ssj1/d26/d13/m7b would
# measure the synthetic duplication, not the operator).
SYNTH_QUERIES = (
    "q1_pricing_summary",
    "q9_profit_by_nation_year",
    "q18_large_volume_customers",
    "g_pagerank_exact",
    "g_triangle_count",
    "g_connected_components",
    "g_mst",
    "g_betweenness",
    "scc1_navigation_core",
    "t1_traverse_both",
)


def _session(app_name: str):
    from torcdb_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _measure(spark, fns: dict, dirs: dict, tables, suspect) -> dict:
    """``{name: {tag: seconds}}`` for every query in ``fns`` at every data
    directory in ``dirs`` (tag -> path), -1.0 where the query raised. Each
    directory's ``tables`` are scanned once before its cells are timed.

    The shared host delivers multi-second CPU-steal bursts that land on
    whichever cell is running (observed: ssj1@sf0.1 119 s vs 4.7 s in the
    same hour). A cell for which ``suspect(name, row, tag)`` holds is re-timed, in
    up to two sweeps, and keeps the min: by then the burst has usually
    moved."""
    from bench import time_query

    def cell(name, tag, what):
        try:
            took = time_query(spark, name, fns[name], dirs[tag], 2)[0]
        except Exception as exc:
            print(f"scaling: {what}{name}@{tag} FAILED: {exc}", file=sys.stderr)
            return -1.0
        print(f"scaling: {what}{name}@{tag} {took}s", file=sys.stderr)
        return took

    result: dict[str, dict[str, float]] = {name: {} for name in fns}
    for tag, path in dirs.items():
        for t in tables:
            spark.read.parquet(f"{path}/{t}.parquet").write.format("noop").mode(
                "overwrite"
            ).save()
        for name in fns:
            result[name][tag] = cell(name, tag, "")
    for sweep in range(2):
        flagged = [
            (name, tag)
            for name, row in result.items()
            for tag in dirs
            if row[tag] >= 0 and suspect(name, row, tag)
        ]
        if not flagged:
            break
        for name, tag in flagged:
            took = cell(name, tag, f"recheck[{sweep}] ")
            if took >= 0:
                result[name][tag] = min(result[name][tag], took)
    return result


def _table(result: dict, small: str, big: str, ratio: float):
    """Markdown rows ``| name | cells | slope |`` and ``{name: slope}``."""
    rows, slopes = [], {}
    for name, row in result.items():
        cells = " | ".join(str(v) for v in row.values())
        if min(row.values()) < 0:
            rows.append(f"| {name} | {cells} | (failed) |")
            continue
        slopes[name] = math.log(
            max(row[big], 1e-3) / max(row[small], 1e-3)
        ) / math.log(ratio)
        rows.append(f"| {name} | {cells} | {slopes[name]:.2f} |")
    return rows, slopes


def _write_section(mark: str, lines: list[str]) -> None:
    """Replace the section of SCALING.md that starts with ``mark`` (up to the
    next section mark, or the end) and keep the others, in mark order."""
    path = os.path.join(REPO, "SCALING.md")
    try:
        with open(path) as f:
            txt = f.read()
    except OSError:
        txt = ""
    marks = (MAIN_MARK, SYNTH_MARK, DEDUP_MARK)
    starts = sorted((i, m) for m in marks if (i := txt.find(m)) >= 0)
    ends = [i for i, _ in starts[1:]] + [len(txt)]
    sections = {m: txt[i:j] for (i, m), j in zip(starts, ends)}
    sections[mark] = "\n".join(lines)
    with open(path, "w") as f:
        f.write("\n".join(sections[m].rstrip() + "\n" for m in marks if m in sections))
    print(f"wrote SCALING.md section {mark!r}")


def main() -> None:
    from torcdb_spark.queries import queries
    from torcdb_spark.sources.tables import TABLE_NAMES

    qs = queries()
    try:
        with open(os.path.join(REPO, "bench_detail.json")) as f:
            record = json.load(f)
    except (OSError, ValueError):
        record = {}
    timings = record.get("queries", {})
    args = sys.argv[1:]
    if args and not args[0].isdigit():
        names = args
    else:
        names = [
            k
            for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])
            if k in qs and not k.startswith("st_")
        ][: int(args[0]) if args else 10]
    # the bench record anchors the sf0.1 cells only when it was taken there
    anchor = timings if record.get("sf") == 0.1 else {}

    def suspect(name, row, sf):
        if sf == "0.1":
            return anchor.get(name, 0) > 0 and row[sf] > 2 * anchor[name]
        return row["0.1"] > 0 and row[sf] > 1.5 * row["0.1"]

    spark = _session("torcdb_spark-scaling")
    dirs = {sf: f"/root/testdata/sf{sf}" for sf in SFS}
    rows_at = {
        sf: sum(spark.read.parquet(f"{d}/{t}.parquet").count() for t in TABLE_NAMES)
        for sf, d in dirs.items()
    }
    result = _measure(spark, {n: qs[n] for n in names}, dirs, TABLE_NAMES, suspect)
    data_ratio = rows_at["0.1"] / rows_at["0.001"]
    rows, slopes = _table(result, "0.001", "0.1", data_ratio)
    out = [
        MAIN_MARK + " — wall-time slope of the most expensive queries across "
        "sf0.001 → sf0.1",
        "",
        f"Generated by tools/scaling.py (min-of-2 per cell, noop sink, "
        f"local[{spark.sparkContext.defaultParallelism}]). Fixture rows: "
        + ", ".join(f"sf{sf}={rows_at[sf]:,}" for sf in SFS)
        + f" ({data_ratio:.0f}× end-to-end).",
        "",
        "slope = log(t_sf0.1/t_sf0.001)/log(rows_sf0.1/rows_sf0.001): "
        "**~0** = fixed overhead dominates (bounded-core witness or "
        "superstep scheduling, NOT data volume); **~1** = linear in the "
        "data; **>1** = super-linear (root-cause note below).",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | slope |",
        "|---|---|---|---|---|",
        *rows,
        "",
    ]
    superlinear = [(n, s) for n, s in slopes.items() if s > 1.05]
    if superlinear:
        out += ["## Super-linear queries (need a root-cause note)", ""]
        out += [f"- **{n}** (slope {s:.2f})" for n, s in superlinear]
        out.append("")
    out.append(
        "## Why no sf1 column (VERDICT r9 ask #8)\n\n"
        "The driver provides fixtures only at sf0.001/0.01/0.1 — there "
        "is no sf1 parquet to extend the series with. Synthesizing one "
        "by replicating sf0.1 with shifted keys was considered and "
        "rejected: replicated document TEXT corrupts exactly the "
        "measurements that matter (the dedup/similarity family — d13, "
        "d26, ssj1, m7b — would see every row gain 10 near-identical "
        "twins, inflating candidate-pair counts quadratically inside "
        "LSH buckets and measuring the synthetic duplication, not the "
        "operator's scaling). For the families that DON'T share that "
        "objection (relational aggregates, graph algorithms over keyed "
        "edges) a key-shifted TEXT-FREE decade exists — see the "
        "'Synthetic text-free decade' section (tools/scaling.py "
        "--synth-decade)."
    )
    _write_section(MAIN_MARK, out)


def _build_synth_decade(spark, base_dir: str, out_dir: str) -> None:
    """Materialize the synthetic ~sf1 fixture: lineitem and orders
    replicated 10x with ORDER KEYS SHIFTED per replica (FK integrity
    kept — every replica references the ORIGINAL dims, the realistic
    shape of a fact table growing against slowly-changing dimensions);
    every other table copied as-is.  No text column is replicated: the
    dedup/similarity family is excluded by design (see SCALING.md)."""
    from pyspark.sql import functions as F

    from torcdb_spark.sources.tables import TABLE_NAMES

    os.makedirs(out_dir, exist_ok=True)
    orders = spark.read.parquet(f"{base_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{base_dir}/lineitem.parquet")
    offset = max(
        orders.agg(F.max("o_orderkey")).first()[0],
        lineitem.agg(F.max("l_orderkey")).first()[0],
    ) + 1
    reps = spark.range(10).select(F.col("id").alias("_rep"))
    (
        orders.crossJoin(F.broadcast(reps))
        .withColumn("o_orderkey",
                    F.col("o_orderkey") + F.col("_rep") * offset)
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/orders.parquet")
    )
    (
        lineitem.crossJoin(F.broadcast(reps))
        .withColumn("l_orderkey",
                    F.col("l_orderkey") + F.col("_rep") * offset)
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/lineitem.parquet")
    )
    for t in TABLE_NAMES:
        if t in ("orders", "lineitem"):
            continue
        spark.read.parquet(f"{base_dir}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")


def synth_decade_main() -> None:
    """--synth-decade: extend the scaling series one decade past sf0.1
    for the relational/graph subset only, against a key-shifted
    text-free 10x replication of lineitem/orders (VERDICT r10 ask #6)."""
    from torcdb_spark.queries import queries
    from torcdb_spark.sources.tables import TABLE_NAMES

    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get(
        "SPARK_GRAFT_SYNTH_DIR", "/tmp/torcdb_synth_sf1"
    )
    spark = _session("torcdb_spark-synth-decade")
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        print(f"synth-decade: building {out_dir} from {base_dir}",
              file=sys.stderr)
        _build_synth_decade(spark, base_dir, out_dir)

    qs = queries()
    dirs = {"sf0.1": base_dir, "sf~1": out_dir}
    fact_rows = {
        tag: sum(
            spark.read.parquet(f"{d}/{t}.parquet").count()
            for t in ("lineitem", "orders")
        )
        for tag, d in dirs.items()
    }
    # a 10x data step with slope <=0.5 predicts <=3.2x
    result = _measure(
        spark, {n: qs[n] for n in SYNTH_QUERIES if n in qs}, dirs, TABLE_NAMES,
        lambda name, row, tag: tag == "sf~1" and row["sf0.1"] > 0
        and row[tag] > 3 * row["sf0.1"],
    )
    ratio = fact_rows["sf~1"] / fact_rows["sf0.1"]
    rows, _ = _table(result, "sf0.1", "sf~1", ratio)
    _write_section(SYNTH_MARK, [
        SYNTH_MARK + " (sf0.1 → key-shifted sf~1, VERDICT r10 ask #6)",
        "",
        f"Generated by `tools/scaling.py --synth-decade`: lineitem + "
        f"orders replicated 10× with per-replica order-key shifts "
        f"(fact rows {fact_rows['sf0.1']:,} → {fact_rows['sf~1']:,}, "
        f"{ratio:.1f}×; dims/documents/embeddings unscaled), min-of-2 "
        f"per cell with burst re-measurement.  slope = "
        "log(t_sf1/t_sf0.1)/log(fact-row ratio), comparable to the main "
        "table's definition.  **Scope**: relational aggregates + graph "
        "algorithms only — the text/dedup/similarity family (ssj1, d26, "
        "d13, m7b, e-family) is excluded BY DESIGN because replicated "
        "text gives every row 10 near-identical twins and the "
        "measurement becomes the synthetic duplication, not the "
        "operator (see 'Why no sf1 column' above).",
        "",
        "| query | sf0.1 s | sf~1 s | slope (this decade) |",
        "|---|---|---|---|",
        *rows,
    ])


def synth_documents(spark, n_docs: int):
    """A `documents` table of n_docs rows whose text is DISTINCT by
    construction — every token is hash-derived from (doc_id, position)
    over a 40k vocabulary, so no document has a replicated twin and no
    5-gram shingle is shared across documents (the property that made
    the key-shifted decade exclude the dedup family: replicated text
    inflates LSH buckets and the measurement becomes the synthetic
    duplication).  Pure JVM expressions — the generator itself scales.
    Twin-freedom is pytest-asserted (tests/test_operators.py
    test_synth_documents_twin_free)."""
    from pyspark.sql import functions as F

    did = F.col("id")
    n_tok = (F.lit(60) + F.pmod(F.xxhash64(did), F.lit(141))).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_tok - 1),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(did, i), F.lit(40000)).cast("string"),
            ),
        ),
        " ",
    )
    langs = F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("es"))
    return spark.range(n_docs).select(
        did.alias("doc_id"),
        text.alias("text"),
        F.element_at(
            langs, (F.pmod(F.xxhash64(did + 1), F.lit(4)) + 1).cast("int")
        ).alias("lang"),
        F.concat(
            F.lit("synth_"), F.pmod(did, F.lit(10)).cast("string")
        ).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))


def _dedup_decade_targets():
    """(name, callable) pairs for the dedup-family decade.  ssj1/d26/
    x_minhash are the declared queries verbatim (they scan the full
    documents table).  d3/d13 bound their fixture to doc_id<=30 for
    oracle tractability, so their PRODUCTION operator — the unbounded
    minhash_lsh_dedup pipeline they wrap — is timed directly instead,
    at both the d3 setting (64/16) and the x_minhash setting (32/8)."""
    from torcdb_spark.operators.dedup import minhash_lsh_dedup
    from torcdb_spark.queries import queries
    from torcdb_spark.sources.tables import load_table

    qs = queries()

    def minhash_full(perm, bands):
        def run(spark, sf_dir):
            docs = load_table(spark, sf_dir, "documents")
            return minhash_lsh_dedup(
                docs, num_perm=perm, bands=bands, jaccard_threshold=0.5
            )
        return run

    return [
        ("ssj1_jaccard_join", qs["ssj1_jaccard_join"]),
        ("d26_containment_join", qs["d26_containment_join"]),
        ("x_minhash_near_dups", qs["x_minhash_near_dups"]),
        ("minhash_lsh_64x16 (d3/d13 core, unbounded)",
         minhash_full(64, 16)),
    ]


def dedup_decade_main() -> None:
    """--dedup-decade: extend the scaling series one decade for the
    text/dedup family against hash-derived DISTINCT-text corpora
    (5k → 50k docs, the same 10× ratio as the key-shifted decade) —
    both cells from the same generator so the slope isolates data
    volume, not corpus shape."""
    out_base = os.environ.get(
        "SPARK_GRAFT_SYNTH_DOCS_DIR", "/tmp/torcdb_synth_docs"
    )
    spark = _session("torcdb_spark-dedup-decade")
    dirs = {}
    for tag, n in (("5k", 5_000), ("50k", 50_000)):
        dirs[tag] = os.path.join(out_base, tag)
        if not os.path.exists(f"{dirs[tag]}/documents.parquet"):
            print(f"dedup-decade: building {dirs[tag]} ({n} docs)",
                  file=sys.stderr)
            synth_documents(spark, n).repartition(32).write.mode(
                "overwrite"
            ).parquet(f"{dirs[tag]}/documents.parquet")

    result = _measure(
        spark, dict(_dedup_decade_targets()), dirs, ("documents",),
        lambda name, row, tag: tag == "50k" and row["5k"] > 0
        and row[tag] > 3 * row["5k"] * 3.33,
    )
    rows, _ = _table(result, "5k", "50k", 10.0)
    _write_section(DEDUP_MARK, [
        DEDUP_MARK + " (5k → 50k distinct-text docs, VERDICT r11 ask #6)",
        "",
        "Generated by `tools/scaling.py --dedup-decade`: both cells use "
        "hash-derived DISTINCT text (every token = "
        "xxhash64(doc_id, pos) over a 40k vocab — no replicated twins, "
        "no shared 5-gram shingles; twin-freedom pytest-asserted), so "
        "LSH bucket sizes stay realistic and the slope measures the "
        "operator, not synthetic duplication.  10× docs per decade; "
        "slope = log(t_50k/t_5k)/log(10).  d3/d13 bound their fixture "
        "to doc_id<=30 (oracle tractability), so their unbounded "
        "production core (minhash_lsh_dedup) is timed directly.",
        "",
        "| target | 5k docs s | 50k docs s | slope (this decade) |",
        "|---|---|---|---|",
        *rows,
    ])


if __name__ == "__main__":
    if "--dedup-decade" in sys.argv:
        dedup_decade_main()
    elif "--synth-decade" in sys.argv:
        synth_decade_main()
    else:
        main()
