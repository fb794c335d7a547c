"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its arguments: the same seed writes
byte-identical parquet files, and the program under test only ever sees
those files. Each generator also returns the facts the correctness checks
need (expected status counts, planted duplicates, ...), computed here in
plain Python from how the inputs were built, never by the program.
"""
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# catalog_ops: a synthetic catalog snapshot

PII_NAMES = ["email", "phone", "first_name", "last_name", "city",
             "zip_code", "ssn", "username", "password_hash", "date_of_birth"]

STR, I32, I64, BOOL = pa.string(), pa.int32(), pa.int64(), pa.bool_()
KEYS = pa.list_(pa.int32())


def _schema(*fields):
    return pa.schema([pa.field(n, t, nullable=nl) for n, t, nl in fields])


CATALOG_SCHEMAS = {
    "relations": _schema(("schema_name", STR, False), ("table_name", STR, False),
                         ("relkind", STR, False), ("description", STR, True),
                         ("approx_rows", I64, False)),
    "attributes": _schema(("schema_name", STR, False), ("table_name", STR, False),
                          ("column_name", STR, False), ("attnum", I32, False),
                          ("data_type", STR, False), ("not_null", BOOL, False),
                          ("default_value", STR, True),
                          ("column_description", STR, True),
                          ("is_dropped", BOOL, False), ("generated", STR, True)),
    "constraints": _schema(("schema_name", STR, False), ("table_name", STR, False),
                           ("constraint_name", STR, False),
                           ("constraint_type", STR, False),
                           ("definition", STR, False),
                           ("constraint_keys", KEYS, False),
                           ("foreign_keys", KEYS, True),
                           ("sequence_name", STR, True),
                           ("references_schema", STR, True),
                           ("references_table", STR, True)),
    "indexes": _schema(("schema_name", STR, False), ("table_name", STR, False),
                       ("index_name", STR, False), ("is_unique", BOOL, False),
                       ("is_exclusion", BOOL, False), ("is_primary", BOOL, False),
                       ("is_valid", BOOL, False), ("immediate", BOOL, False),
                       ("definition", STR, False), ("index_keys", KEYS, False)),
    "schema_privs": _schema(("schema_name", STR, False), ("has_usage", BOOL, False)),
    "dependencies": _schema(("dependent_schema", STR, False),
                            ("dependent_table", STR, False),
                            ("referenced_schema", STR, False),
                            ("referenced_table", STR, False)),
    "roles": _schema(("role_name", STR, False)),
    "role_members": _schema(("role", STR, False), ("member", STR, False)),
    "grants": _schema(("grantee", STR, False), ("table_schema", STR, False),
                      ("table_name", STR, False), ("privilege_type", STR, False)),
}


def _write(path, schema, rows):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema)
    pq.write_table(table, path)


def catalog(out_dir, seed, schemas, tables, columns, views):
    """Write a CatalogSnapshot (one parquet per dataset) under out_dir.

    Each base table has a surrogate or natural primary key, up to two
    foreign keys to earlier tables of its schema, a unique `code`, a
    check-constrained `amount`, an indexed column, PII-named and
    metadata columns, and filler columns up to `columns`. Each schema also
    has `views` views over one or two relations, some of them over an
    earlier view, so dropping a table cascades through a dependency chain.

    Returns the expected status counts, the what-if target and the live
    column count its cascade removes, and the number of base tables.
    """
    rnd = random.Random(seed)
    rels, attrs, cons, idxs, privs, deps = [], [], [], [], [], []
    cnt = dict(pii=0, metadata=0, primary_key=0, foreign_key=0,
               unique_key=0, check_constrained=0, indexed=0, generated=0,
               schema_migration_table=0)
    live_cols = {}  # (schema, relation) -> live column count

    def col(s, t, name, attnum, dtype, not_null=False, default=None,
            dropped=False, generated=None):
        attrs.append((s, t, name, attnum, dtype, not_null, default, None,
                      dropped, generated))
        if attnum > 0 and not dropped:
            live_cols[(s, t)] = live_cols.get((s, t), 0) + 1
            if name in PII_NAMES:
                cnt["pii"] += 1
            if name in ("created_at", "updated_at", "version"):
                cnt["metadata"] += 1

    for si in range(schemas):
        s = f"s{si:02d}"
        privs.append((s, True))
        names = [f"t{ti:03d}" for ti in range(tables)]
        for ti, t in enumerate(names):
            rels.append((s, t, "r", None, rnd.randrange(10, 1_000_000)))
            surrogate = rnd.random() < 0.8
            seq = f"{s}.{t}_id_seq" if surrogate else None
            col(s, t, "id", 1, "bigint", True,
                f"nextval('{seq}'::regclass)" if surrogate else None)
            cons.append((s, t, f"{t}_pkey", "p", "PRIMARY KEY (id)", [1],
                         None, seq, None, None))
            idxs.append((s, t, f"{t}_pkey", True, False, True, True, True,
                         f"CREATE UNIQUE INDEX {t}_pkey ON {s}.{t} USING btree (id)",
                         [1]))
            cnt["primary_key"] += 1
            cnt["indexed"] += 1
            n = 2
            for k in range(rnd.randrange(3) if ti > 0 else 0):
                ref = names[rnd.randrange(ti)]
                c = f"ref{k}_key"
                col(s, t, c, n, "bigint")
                cons.append((s, t, f"{t}_{c}_fkey", "f",
                             f"FOREIGN KEY ({c}) REFERENCES {s}.{ref}(id)",
                             [n], [1], None, s, ref))
                cnt["foreign_key"] += 1
                n += 1
            col(s, t, "code", n, "text", True)
            cons.append((s, t, f"{t}_code_key", "u", "UNIQUE (code)", [n],
                         None, None, None, None))
            idxs.append((s, t, f"{t}_code_key", True, False, False, True, True,
                         f"CREATE UNIQUE INDEX {t}_code_key ON {s}.{t} USING btree (code)",
                         [n]))
            cnt["unique_key"] += 1
            n += 1
            col(s, t, "amount", n, "numeric")
            cons.append((s, t, f"{t}_amount_check", "c",
                         "CHECK ((amount >= (0)::numeric))", [n], None, None,
                         None, None))
            cnt["check_constrained"] += 1
            n += 1
            col(s, t, "c_indexed", n, "integer")
            idxs.append((s, t, f"{t}_c_indexed_idx", False, False, False, True,
                         True,
                         f"CREATE INDEX {t}_c_indexed_idx ON {s}.{t} USING btree (c_indexed)",
                         [n]))
            cnt["indexed"] += 1
            n += 1
            for p in rnd.sample(PII_NAMES, rnd.randrange(3)):
                col(s, t, p, n, "text")
                n += 1
            if rnd.random() < 0.5:
                col(s, t, "created_at", n, "timestamp with time zone", True, "now()")
                col(s, t, "updated_at", n + 1, "timestamp with time zone")
                n += 2
            if rnd.random() < 0.1:
                col(s, t, "total", n, "numeric", default="(amount * 2)",
                    generated="s")
                cnt["generated"] += 1
                n += 1
            if rnd.random() < 0.1:
                col(s, t, "old_col", n, "text", dropped=True)
                n += 1
            k = 0
            while n <= columns:
                col(s, t, f"c{k:02d}", n, "text")
                n += 1
                k += 1
        if si == 0:
            t = "schema_migrations"
            rels.append((s, t, "r", None, 12))
            col(s, t, "version", 1, "bigint", True)
            col(s, t, "applied_at", 2, "timestamp with time zone")
            cnt["schema_migration_table"] += 1
        for vi in range(views):
            v = f"v{vi:02d}"
            rels.append((s, v, "v", None, 0))
            for k in range(8):
                col(s, v, f"v_c{k}", k + 1, "text")
            # refer to one or two relations; views after the first may
            # stack on an earlier view, giving multi-level cascades
            refs = {names[rnd.randrange(tables)]}
            if vi > 0 and rnd.random() < 0.5:
                refs.add(f"v{rnd.randrange(vi):02d}")
            elif rnd.random() < 0.5:
                refs.add(names[rnd.randrange(tables)])
            for r in sorted(refs):
                deps.append((s, v, s, r))

    # what-if target: a seeded table that at least one view depends on
    targets = sorted({(d[2], d[3]) for d in deps if d[3].startswith("t")})
    target = targets[rnd.randrange(len(targets))]
    by_ref = {}
    for ds, dt, rs, rt in deps:
        by_ref.setdefault((rs, rt), []).append((ds, dt))
    closure, frontier = {target}, [target]
    while frontier:
        for d in by_ref.get(frontier.pop(), []):
            if d not in closure:
                closure.add(d)
                frontier.append(d)

    for name, rows in [("relations", rels), ("attributes", attrs),
                       ("constraints", cons), ("indexes", idxs),
                       ("schema_privs", privs), ("dependencies", deps),
                       ("roles", []), ("role_members", []), ("grants", [])]:
        _write(f"{out_dir}/{name}.parquet", CATALOG_SCHEMAS[name], rows)

    status = dict(
        schema_count=len({s for s, _ in live_cols}),
        table_count=len(live_cols),
        column_count=sum(live_cols.values()),
        ignored_table_count=cnt["schema_migration_table"],
        **{f"{k}_count": v for k, v in cnt.items()})
    return dict(
        status=status,
        whatif_schema=target[0], whatif_table=target[1],
        whatif_dropped_relations=len(closure),
        whatif_column_count=status["column_count"]
        - sum(live_cols.get(r, 0) for r in closure),
        base_tables=sum(1 for r in rels if r[2] == "r"))


# ---------------------------------------------------------------------------
# shared text model: bag-of-words documents over a small vocabulary

def _vocab(rnd, n):
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zu", "pa",
           "di", "go", "he", "ja", "bu", "fe", "qi", "wy", "xo", "ce"]
    words = set()
    while len(words) < n:
        words.add("".join(rnd.choice(syl) for _ in range(rnd.randrange(2, 4))))
    return sorted(words)


def _text(rnd, vocab, lo, hi):
    return " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(lo, hi)))


# ---------------------------------------------------------------------------
# store_ingest: a base corpus, B ingest batches and a probe query set

DOC_SCHEMA = _schema(("doc_id", I64, False), ("text", STR, False))
# share of each batch planted per kind
EXACT_SHARE, NEAR_SHARE, SHORT_SHARE, CONTAMINATED_SHARE = 0.10, 0.10, 0.05, 0.05
EVAL_DOCS, PROBE_QUERIES = 8, 16


def corpus(out_dir, seed, base_docs, batches, batch_docs):
    """Write base.parquet, batch_<b>.parquet, eval.parquet, queries.parquet.

    Each batch mixes novel documents with planted cases, by share of the
    batch: exact re-submissions of an already stored document under a new
    id, near-duplicate edits of one (a few words replaced), documents too
    short for the quality gate, and documents that quote a long span of
    an eval document. Returns the planted ids per kind and batch.
    """
    rnd = random.Random(seed)
    vocab = _vocab(rnd, 400)
    next_id = 0

    def novel():
        t = _text(rnd, vocab, 30, 70)
        if rnd.random() < 0.1:  # something for the PII scrub to redact
            t += f" mail {rnd.choice(vocab)}{rnd.randrange(100)}@example.com"
        return t

    base = []
    for _ in range(base_docs):
        base.append((next_id, novel()))
        next_id += 1
    evals = [_text(rnd, vocab, 40, 60) for _ in range(EVAL_DOCS)]
    stored = list(base)  # documents already in the store, safe to copy
    # planted ids per kind, one list per batch
    planted = dict(exact=[], near=[], short=[], contaminated=[])
    n_exact = round(batch_docs * EXACT_SHARE)
    n_near = round(batch_docs * NEAR_SHARE)
    n_short = round(batch_docs * SHORT_SHARE)
    n_cont = round(batch_docs * CONTAMINATED_SHARE)
    for b in range(batches):
        rows, fresh = [], []
        for kind in planted:
            planted[kind].append([])
        for _ in range(n_exact):
            rows.append((next_id, rnd.choice(stored)[1]))
            planted["exact"][b].append(next_id)
            next_id += 1
        for _ in range(n_near):
            words = rnd.choice(stored)[1].split(" ")
            for _ in range(max(1, len(words) // 40)):
                words[rnd.randrange(len(words))] = rnd.choice(vocab)
            rows.append((next_id, " ".join(words)))
            planted["near"][b].append(next_id)
            next_id += 1
        for _ in range(n_short):
            rows.append((next_id, _text(rnd, vocab, 2, 6)))
            planted["short"][b].append(next_id)
            next_id += 1
        for _ in range(n_cont):
            e = rnd.choice(evals).split(" ")
            rows.append((next_id, _text(rnd, vocab, 10, 20) + " "
                         + " ".join(e[:24]) + " " + _text(rnd, vocab, 10, 20)))
            planted["contaminated"][b].append(next_id)
            next_id += 1
        while len(rows) < batch_docs:
            d = (next_id, novel())
            rows.append(d)
            fresh.append(d)
            next_id += 1
        rnd.shuffle(rows)
        _write(f"{out_dir}/batch_{b}.parquet", DOC_SCHEMA, rows)
        stored.extend(fresh)
    _write(f"{out_dir}/base.parquet", DOC_SCHEMA, base)
    # eval ids sit above every document id; DSIR keys its target by id
    _write(f"{out_dir}/eval.parquet", DOC_SCHEMA,
           [(5_000_000 + i, e) for i, e in enumerate(evals)])
    # probe queries: ids far above every document id, as PostingIndex.topK
    # asks of external queries
    _write(f"{out_dir}/queries.parquet", DOC_SCHEMA,
           [(10_000_000 + q, _text(rnd, vocab, 3, 8)) for q in range(PROBE_QUERIES)])
    return dict(planted=planted, batches=batches, batch_docs=batch_docs,
                base_docs=base_docs)


# ---------------------------------------------------------------------------
# query_suite: the tables SparkEntry queries read

# rows per generated table; lineitem holds 1 to 7 lines per order
SUITE_ROWS = dict(customer=150, supplier=10, part=200, orders=1500,
                  events=1000, documents=500, embeddings=500)


def suite_tables(out_dir, seed):
    """Write the ten tables `SparkEntry` queries read.

    The rows come from a fixed generator (`SUITE_ROWS`), so every seed
    holds the same row multiset; the seed only permutes each table's row
    order. A query whose result depends on input order therefore
    disagrees with the order-insensitive DuckDB oracle on some seed.
    """
    g = random.Random(20240101)
    ts = pa.timestamp("us")
    day = 86_400_000_000
    t0 = 788_918_400_000_000  # 1995-01-01
    e0 = 1_704_067_200_000_000  # 2024-01-01
    tables = {}
    tables["region"] = (_schema(("r_regionkey", I32, True), ("r_name", STR, True)),
                        [(i, n) for i, n in enumerate(
                            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])])
    tables["nation"] = (_schema(("n_nationkey", I32, True), ("n_name", STR, True),
                                ("n_regionkey", I32, True)),
                        [(i, f"NATION_{i}", i % 5) for i in range(25)])
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    ncust, nsupp, npart, nord = (SUITE_ROWS[t] for t in
                                 ("customer", "supplier", "part", "orders"))
    tables["customer"] = (
        _schema(("c_custkey", I64, True), ("c_name", STR, True),
                ("c_nationkey", I32, True), ("c_acctbal", pa.float64(), True),
                ("c_mktsegment", STR, True)),
        [(i, f"Customer#{i:09d}", g.randrange(25),
          round(g.uniform(-999.99, 9999.99), 2), g.choice(segs))
         for i in range(ncust)])
    tables["supplier"] = (
        _schema(("s_suppkey", I64, True), ("s_name", STR, True),
                ("s_nationkey", I32, True), ("s_acctbal", pa.float64(), True)),
        [(i, f"Supplier#{i:09d}", g.randrange(25),
          round(g.uniform(-999.99, 9999.99), 2)) for i in range(nsupp)])
    adj = ["cold", "small", "large", "hot", "red", "blue", "green", "tiny",
           "bright", "dark", "smooth", "rough"]
    noun = ["widget", "bolt", "gear", "nut", "screw", "spring"]
    types = ["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"]
    tables["part"] = (
        _schema(("p_partkey", I64, True), ("p_name", STR, True),
                ("p_brand", STR, True), ("p_type", STR, True),
                ("p_size", I32, True), ("p_retailprice", pa.float64(), True)),
        [(i, f"{g.choice(adj)} {g.choice(noun)}", f"Brand#{g.randrange(1, 26)}",
          g.choice(types), g.randrange(1, 51), round(900 + (i % 200) * 0.1, 2))
         for i in range(npart)])
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders, lines = [], []
    for o in range(nord):
        odate = t0 + g.randrange(2404) * day
        nl = g.randrange(1, 8)
        total = 0.0
        for ln in range(1, nl + 1):
            q = float(g.randrange(1, 51))
            price = round(q * g.uniform(900, 2100), 2)
            total += price
            lines.append((o, g.randrange(npart), g.randrange(nsupp), ln, q, price,
                          g.randrange(11) / 100, g.randrange(9) / 100,
                          g.choice("ANR"), g.choice("OF"),
                          odate + g.randrange(1, 122) * day))
        orders.append((o, g.randrange(ncust), g.choice("FOP"), round(total, 2),
                       odate, g.choice(prios)))
    tables["orders"] = (
        _schema(("o_orderkey", I64, True), ("o_custkey", I64, True),
                ("o_orderstatus", STR, True), ("o_totalprice", pa.float64(), True),
                ("o_orderdate", ts, True), ("o_orderpriority", STR, True)),
        orders)
    tables["lineitem"] = (
        _schema(("l_orderkey", I64, True), ("l_partkey", I64, True),
                ("l_suppkey", I64, True), ("l_linenumber", I32, True),
                ("l_quantity", pa.float64(), True),
                ("l_extendedprice", pa.float64(), True),
                ("l_discount", pa.float64(), True), ("l_tax", pa.float64(), True),
                ("l_returnflag", STR, True), ("l_linestatus", STR, True),
                ("l_shipdate", ts, True)),
        lines)
    etypes = ["click", "view", "purchase", "signup", "error"]
    tables["events"] = (
        _schema(("event_id", I64, True), ("ts", ts, True), ("user_id", I64, True),
                ("event_type", STR, True), ("value", pa.float64(), True),
                ("props", STR, True)),
        [(i, e0 + g.randrange(30 * day), g.randrange(15), g.choice(etypes),
          round(g.uniform(0.01, 330), 2), f'{{"k": {g.randrange(100)}}}')
         for i in range(SUITE_ROWS["events"])])
    vocab = ["the", "a", "key", "agg", "row", "scan", "slow", "fast", "table",
             "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
             "window", "order", "data", "column", "join", "small", "big",
             "customer", "query", "filter", "group", "stream", "vector"]
    docs = []
    for i in range(SUITE_ROWS["documents"]):
        text = " ".join(g.choice(vocab) for _ in range(g.randrange(8, 80)))
        if i % 50 == 7:  # near-duplicate of an earlier document
            text = docs[i - 7][1] + " " + g.choice(vocab)
        docs.append((i, text, g.choice(["en", "en", "zh", "es", "de", "fr"]),
                     f"src{i % 20}", len(text)))
    tables["documents"] = (
        _schema(("doc_id", I64, True), ("text", STR, True), ("lang", STR, True),
                ("source", STR, True), ("n_chars", I64, True)),
        docs)
    cents = [[g.gauss(0, 0.2) for _ in range(64)] for _ in range(10)]
    embs = []
    for i in range(SUITE_ROWS["embeddings"]):
        lab = g.randrange(10)
        embs.append((i, [c + g.gauss(0, 0.1) for c in cents[lab]], lab))
    tables["embeddings"] = (
        _schema(("vec_id", I64, True), ("embedding", pa.list_(pa.float32()), True),
                ("label", I32, True)),
        embs)

    rnd = random.Random(seed)
    sizes = {}
    for name, (schema, rows) in tables.items():
        rows = list(rows)
        rnd.shuffle(rows)
        _write(f"{out_dir}/{name}.parquet", schema, rows)
        sizes[name] = len(rows)
    return dict(rows=sizes)

