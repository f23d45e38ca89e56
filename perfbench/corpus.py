"""batch_corpus: document-corpus batch queries from __spark_entry__
over a seeded documents table.

One untimed pass warms the JVM up. Then passes over the heavy and the
light set, each query written to a noop sink, run while another pass
still fits in --seconds (at least one pass). work_s is the median over
passes of the heavy-set wall time, work_cpu_s of its cpu time (the JVM
without its JIT compiler threads, and its Python workers). After the
timed passes each query is called once more and its collected rows are
checked against the query's DuckDB ORACLE_SQL with the order-insensitive
value hash of tools/check_correctness.py (untimed)."""

from __future__ import annotations

import importlib
import os
import random
import statistics
import time

from measure import Result

# Batch queries use the engine's default shuffle partitions.
SHUFFLE_PARTITIONS = None

# Heavy set: per-row hashing and wide shuffles (near-duplicate
# similarity, corpus bigram statistics, exact substring dedup). Light set: bench.py HEADLINE
# queries that read only the documents table, for the fixed cost of
# planning and scheduling a query.
HEAVY = ("q_minhash_lsh", "q_bigram_logprob", "q_substring_dedup")
LIGHT = ("q_url_extract", "q_wordcount")

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 41), ("zh", 15), ("de", 14), ("fr", 15), ("es", 15))

N_DOCS = {False: 600, True: 40}


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """A documents table with the fixture's schema: 10-100 words per
    document, and every eighth document a near copy of an earlier one
    (two words replaced), so the dedup and similarity queries have
    pairs to find."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    langs = [lang for lang, w in LANGS for _ in range(w)]
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 8 and i % 8 == 0:
            words = texts[rng.randrange(i)].split()
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(10, 100))]
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


def oracle_mismatch(cols: list[str], rows: list[tuple], con, sql: str) -> str | None:
    """Why rows differ from the DuckDB answer to sql, or None: column
    names, row count and tools/check_correctness.py's order-insensitive
    value hash."""
    value_hash = importlib.import_module("tools.check_correctness").value_hash
    got = con.execute(sql)
    ocols = [d[0] for d in got.description]
    orows = got.fetchall()
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs {sorted(ocols)} in the oracle"
    if len(rows) != len(orows) or value_hash(rows, cols) != value_hash(orows, ocols):
        return f"{len(rows)} rows vs {len(orows)} in the oracle, value hash differs"
    return None


def one_pass(spark, queries, sf_dir: str, sampler, tracer, bad: dict[str, str]) -> dict[str, float]:
    """Every query once, written to a noop sink: the wall time of each
    and the cpu time of the heavy set. A query that raises is recorded
    in bad."""
    walls: dict[str, float] = {}
    cpu0 = sampler.cpu_now()
    for name in HEAVY + LIGHT:
        if name == LIGHT[0]:
            walls["cpu_s"] = sampler.cpu_now() - cpu0
        t = time.perf_counter()
        try:
            with tracer.span(f"query.{name}"):
                queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — counted as a failure
            bad.setdefault(name, f"raised {str(e)[:200]}")
        walls[name] = time.perf_counter() - t
    return walls


def run(spark, args, tmp_root: str, tracer, sampler) -> Result:
    import duckdb

    import __spark_entry__ as entry

    res = Result()
    queries = entry.queries()
    oracles = entry.oracle_sql()

    sf_dir = os.path.join(tmp_root, "corpus")
    os.makedirs(sf_dir)
    t = time.perf_counter()
    with tracer.span("setup.datagen"):
        write_documents(os.path.join(sf_dir, "documents.parquet"), args.seed, N_DOCS[args.tiny])
    datagen_s = time.perf_counter() - t

    # warm-up: one untimed pass
    bad: dict[str, str] = {}
    t = time.perf_counter()
    with tracer.span("setup.warmup"):
        one_pass(spark, queries, sf_dir, sampler, tracer, bad)
    warm_s = time.perf_counter() - t

    # timed passes
    passes: list[dict[str, float]] = []
    jvm0, jit0, py0, cpu0 = sampler.cpu_split()
    t_start = time.perf_counter()
    # a pass starts only if one of the median length still ends in time
    while not passes or (
        time.perf_counter() - t_start
        + statistics.median(sum(p[q] for q in HEAVY + LIGHT) for p in passes)
        <= args.seconds
    ):
        with tracer.span("pass"):
            passes.append(one_pass(spark, queries, sf_dir, sampler, tracer, bad))
    window_s = time.perf_counter() - t_start
    sampler.sample()
    jvm1, jit1, py1, cpu1 = sampler.cpu_split()

    # after the timed passes, one call per query; its rows are checked
    # against the oracle
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    check_s = 0.0
    for name in HEAVY + LIGHT:
        t = time.perf_counter()
        with tracer.span("check"):
            try:
                df = queries[name](spark, sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001 — counted as a failure
                bad.setdefault(name, f"raised {str(e)[:200]}")
                continue
            finally:
                check_s += time.perf_counter() - t
            why = oracle_mismatch(cols, rows, con, oracles[name])
        if why:
            bad[name] = why
    con.close()

    res.attempted = len(passes) * len(HEAVY + LIGHT)
    res.failed = len(passes) * len(set(bad))
    res.check_failures = [f"{q}: {why}" for q, why in sorted(bad.items())]
    res.work_s = statistics.median(sum(p[q] for q in HEAVY) for p in passes)
    res.work_cpu_s = statistics.median(p["cpu_s"] for p in passes)
    res.setup_s = datagen_s + warm_s
    res.notes.update({
        "passes": len(passes),
        "pass_cpu_s": [round(p["cpu_s"], 2) for p in passes],
        "documents": N_DOCS[args.tiny],
        "light_samples": len(passes) * len(LIGHT),
        "oracle_check_s": check_s,
    })

    if args.trace:
        lay = res.layer
        lay["setup.datagen_s"] = datagen_s
        lay["setup.warmup_s"] = warm_s
        for q in HEAVY + LIGHT:
            lay[f"query.{q}_s"] = statistics.median(p[q] for p in passes)
        lay["batch.light_p50_s"] = statistics.median(p[q] for p in passes for q in LIGHT)
        n = len(passes)
        lay["proc.jvm_cpu_s"] = (jvm1 - jvm0) / n
        lay["proc.jit_cpu_s"] = (jit1 - jit0) / n
        lay["proc.python_cpu_s"] = (py1 - py0) / n
        lay["proc.cpu_util"] = (cpu1 - cpu0) / (window_s * os.cpu_count())
        from drain import enrich_layers, turns_input

        lay.update(enrich_layers(spark, tracer, turns_input(spark, tmp_root, args)))
    return res
