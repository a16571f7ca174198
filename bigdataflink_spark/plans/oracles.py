"""DuckDB oracle SQL — one ANSI-SQL statement per entry in
plans/queries.py, runnable on the driver's pre-registered views
(region nation customer supplier part orders lineitem events
documents embeddings).

Every statement mirrors its Spark twin's value conventions (see
plans/queries.py header): decimal accumulation for money, epoch
micros for time, BIGINT casts where DuckDB would widen to HUGEINT,
identical rounding, identical tiebreaks. Hashes are md5-derived
(operators/hashing.py) so signatures match bit-for-bit.
"""

from __future__ import annotations

_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
)
_CHARGE = f"({_DISC_PRICE}) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))"

_MONEY = "ROUND(CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE), 2)"


def _money(c: str) -> str:
    return _MONEY.format(c=c)


# ---- shared text/similarity fragments -------------------------------

_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"

# word 3-gram shingles, distinct; DuckDB lists are 1-indexed
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                        FOR i IN range(1, len(tk) - 1)]) AS sh
  FROM toks WHERE len(tk) >= 3
)"""


def _md5_int(expr: str, hex_digits: int = 15) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, {hex_digits}) AS BIGINT)"


def _zorder_sql(bits: int = 16) -> str:
    # mirror of operators/zorder.morton_key over (user_id, value):
    # bit i of column j lands at position i*2 + j, j=0 user, j=1 value
    terms = []
    for i in range(bits):
        terms.append(f"(((su >> {i}) & 1) << {2 * i})")
        terms.append(f"(((sv >> {i}) & 1) << {2 * i + 1})")
    top = (1 << bits) - 1
    zexpr = " | ".join(terms)
    return f"""
WITH stats AS (
  SELECT MIN(user_id) AS lo_u, MAX(user_id) AS hi_u,
         MIN(value) AS lo_v, MAX(value) AS hi_v
  FROM events
),
scaled AS (
  SELECT event_id,
         LEAST(CAST(FLOOR(
           (CASE WHEN CAST(hi_u - lo_u AS DOUBLE) > 0
                 THEN (CAST(user_id AS DOUBLE) - CAST(lo_u AS DOUBLE))
                      / CAST(hi_u - lo_u AS DOUBLE)
                 ELSE 0.0 END) * {top + 1}) AS BIGINT), {top}) AS su,
         LEAST(CAST(FLOOR(
           (CASE WHEN CAST(hi_v - lo_v AS DOUBLE) > 0
                 THEN (CAST(value AS DOUBLE) - CAST(lo_v AS DOUBLE))
                      / CAST(hi_v - lo_v AS DOUBLE)
                 ELSE 0.0 END) * {top + 1}) AS BIGINT), {top}) AS sv
  FROM events, stats
)
SELECT event_id, CAST({zexpr} AS BIGINT) AS z FROM scaled
"""


def _minhash_sql(num_hashes: int = 16, bands: int = 4, threshold: float = 0.8) -> str:
    # Kirsch-Mitzenmacher derived hashes from one md5 base (mirror of
    # operators/dedup.minhash_signatures): h_p = (h1 + p*h2) % (2^31-1)
    mins = ",\n         ".join(
        f"MIN(((h >> 30) + {p} * (h & 1073741823)) % 2147483647) AS mh{p}"
        for p in range(num_hashes)
    )
    rows = num_hashes // bands
    band_cases = " ".join(
        f"WHEN {b} THEN concat_ws(',', "
        + ", ".join(f"mh{b * rows + r}" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, {_md5_int('unnest(sh)')} AS h FROM sh),
sig AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id),
banded AS (
  SELECT doc_id, b.band, CASE b.band {band_cases} END AS bsig
  FROM sig, (VALUES (0),(1),(2),(3)) AS b(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
ver AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) AS common,
         len(x.sh) AS la, len(y.sh) AS lb
  FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b
)
SELECT id_a, id_b, ROUND(common / (la + lb - common), 6) AS jaccard
FROM ver WHERE ROUND(common / (la + lb - common), 6) >= {threshold}
"""


# dot/cosine over FLOAT[] in double precision, left-to-right fold
def _dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cos(a: str, b: str) -> str:
    return f"({_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})))"


ORACLES: dict[str, str] = {
    "q01_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
       {_money('l_quantity')} AS sum_qty,
       {_money('l_extendedprice')} AS sum_base_price,
       ROUND(CAST(SUM({_DISC_PRICE}) AS DOUBLE), 2) AS sum_disc_price,
       ROUND(CAST(SUM({_CHARGE}) AS DOUBLE), 2) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "q02_revenue_by_region": f"""
SELECT r_name,
       year(CAST(o_orderdate AS DATE)) AS o_year,
       ROUND(CAST(SUM({_DISC_PRICE}) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, o_year
""",
    "q03_top_customers": """
SELECT c_custkey, c_name,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC, c_custkey
LIMIT 10
""",
    "q04_priority_semi_join": """
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    "q05_customers_without_orders": """
SELECT c_mktsegment, COUNT(*) AS n
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""",
    "q06_ri_check": """
SELECT CAST(SUM(CASE WHEN o.o_orderkey  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_orders,
       CAST(SUM(CASE WHEN p.p_partkey   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_part,
       CAST(SUM(CASE WHEN s.s_suppkey   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_supplier,
       CAST(SUM(CASE WHEN c.c_custkey   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_customer,
       CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_nation,
       CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_region
FROM lineitem l
LEFT JOIN orders   o ON l.l_orderkey = o.o_orderkey
LEFT JOIN part     p ON l.l_partkey  = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey  = s.s_suppkey
LEFT JOIN customer c ON o.o_custkey  = c.c_custkey
LEFT JOIN nation   n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region   r ON n.n_regionkey = r.r_regionkey
""",
    "q07_distinct_counts": """
SELECT COUNT(*) AS n_orders,
       COUNT(DISTINCT o_orderkey) AS n_distinct_keys,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
""",
    "q08_date_parts": f"""
SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
       month(CAST(o_orderdate AS DATE)) AS o_month,
       COUNT(*) AS n,
       {_money('o_totalprice')} AS revenue
FROM orders
GROUP BY o_year, o_month
""",
    "q09_union_slices": """
SELECT o_orderstatus, COUNT(*) AS n
FROM (SELECT * FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT * FROM orders WHERE o_totalprice > 100000.0)
GROUP BY o_orderstatus
""",
    "q10_window_rank": """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
""",
    "q11_json_extract": """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""",
    "q12_string_cleanse": """
SELECT c_custkey,
       nullif(trim(c_name), '') AS name,
       coalesce(nullif(trim(c_mktsegment), ''), 'UNKNOWN') AS segment,
       nullif(trim(concat_ws(' ', c_name, c_mktsegment)), '') AS name_seg
FROM customer
""",
    "q13_coercions": """
WITH fixture(idx, i, f, d, s) AS (VALUES
  (1, '4.0',  '3.5', '5/14/2021',  '  x  '),
  (2, '4.9',  '',    '2021-05-14', '   '),
  (3, '-2.7', 'bad', '14.05.2021', ''),
  (4, 'abc',  '1e3', '31/12/2021', NULL),
  (5, NULL,   NULL,  NULL,         'y'))
SELECT idx,
       CAST(CASE WHEN TRY_CAST(i AS DOUBLE) < 0 THEN ceil(TRY_CAST(i AS DOUBLE))
                 ELSE floor(TRY_CAST(i AS DOUBLE)) END AS BIGINT) AS i_val,
       TRY_CAST(f AS DOUBLE) AS f_val,
       COALESCE(CAST(try_strptime(d, '%-m/%-d/%Y') AS DATE),
                CAST(try_strptime(d, '%Y-%m-%d') AS DATE),
                CAST(try_strptime(d, '%-d.%-m.%Y') AS DATE)) AS d_val,
       nullif(trim(s), '') AS s_val
FROM fixture
""",
    "q14_lww_dedup": """
SELECT user_id, event_type, value, epoch_us(ts) AS ts_us
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
    "q15_tumbling_window": f"""
SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS win_start_us,
       event_type,
       COUNT(*) AS n,
       {_money('value')} AS sum_value
FROM events
GROUP BY win_start_us, event_type
""",
    "q16_sliding_window": f"""
WITH x AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, value FROM events),
w AS (SELECT epoch_us(b) AS win_start_us, value FROM x
      UNION ALL
      SELECT epoch_us(b - INTERVAL '5 minutes') AS win_start_us, value FROM x)
SELECT win_start_us, COUNT(*) AS n, {_money('value')} AS sum_value
FROM w GROUP BY win_start_us
""",
    "q17_session_window": f"""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
       COUNT(*) AS n, {_money('value')} AS sum_value
FROM s GROUP BY user_id, sid
""",
    "q18_rollup": f"""
SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
       month(CAST(o_orderdate AS DATE)) AS o_month,
       COUNT(*) AS n,
       {_money('o_totalprice')} AS revenue,
       CAST(GROUPING(year(CAST(o_orderdate AS DATE))) AS INT) AS g_year,
       CAST(GROUPING(month(CAST(o_orderdate AS DATE))) AS INT) AS g_month
FROM orders
GROUP BY ROLLUP(o_year, o_month)
""",
    # q19: the HLL estimate is engine-specific, so the oracle pins the
    # exact distinct counts and asserts the Spark-side error bound
    # (approx_ok) held — TRUE here, computed |approx-exact|<=5% there.
    "q19_approx_distinct": """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n,
       TRUE AS approx_ok
FROM events
GROUP BY event_type
""",
    "q35_cube": f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       {_money('o_totalprice')} AS revenue,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
    "q36_percentiles": """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
""",
    "q37_setops": """
WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
SELECT (SELECT COUNT(*) FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)) AS n_both,
       (SELECT COUNT(*) FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)) AS n_only_f
""",
    # q19_approx_distinct: intentionally no oracle (HLL sketches are
    # engine-specific); the driver records a rows-only check.
    "q20_dedup_exact": """
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
FROM documents GROUP BY source
""",
    "q21_minhash_lsh": _minhash_sql(16, 4, 0.8),
    # q73: same md5 bucket formula as operators/sampling.split_bucket —
    # bucket = md5('split-v1' || doc_id) % 1e6; train < 900000,
    # val < 950000, else test.
    "q73_hash_split": f"""
WITH b AS (
  SELECT doc_id, n_chars,
         {_md5_int("'split-v1' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 900000 THEN 'train'
            WHEN bucket < 950000 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       SUM(doc_id) AS sum_doc_id,
       SUM(n_chars) AS sum_chars
FROM b GROUP BY split
""",
    # q74: identical injected PII + the same ordered regexp_replace
    # chain (emails first), RE2-compatible patterns run verbatim in
    # both engines; md5 pins the exact redacted bytes.
    "q74_pii_redaction": r"""
WITH s AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-123-4567' AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
       md5(regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
FROM s
""",
    # q81: explicit left-to-right double folds mirror F.aggregate;
    # DuckDB lists are 1-indexed (3rd-smallest = sorted[3]); the
    # reverse-dot zips by index: e[i] * e[len+1-i].
    "q81_array_battery2": """
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
       ROUND(CAST(list_sort(embedding)[3] AS DOUBLE), 6) AS third_smallest,
       ROUND(list_sum(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE)
                  * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE))), 6) AS reverse_dot
FROM embeddings
""",
    "q79_window_battery2": """
SELECT o_custkey, o_orderkey,
       ROUND(percent_rank() OVER w, 9) AS pct_rank,
       ROUND(cume_dist() OVER w, 9) AS cume,
       nth_value(o_orderkey, 2) OVER w AS second_key,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY datediff('day', DATE '1992-01-01',
                                          CAST(o_orderdate AS DATE))
                        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2)
            AS DOUBLE) AS trailing_30d_revenue
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
    "q80_date_battery": """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) + 30 AS plus_30d,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_1m,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
       CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS iso_dow,
       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS iso_week,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
FROM orders
""",
    "q76_local_supplier_volume": f"""
SELECT n_name,
       CAST(ROUND(SUM({_DISC_PRICE}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
""",
    "q77_product_type_profit": f"""
SELECT n_name AS nation,
       year(CAST(o_orderdate AS DATE)) AS o_year,
       CAST(ROUND(SUM({_DISC_PRICE}
             - CAST(0.6 AS DECIMAL(6,4)) * CAST(p_retailprice AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS profit,
       COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type LIKE '%2%'
GROUP BY n_name, o_year
""",
    "q78_waiting_suppliers": """
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
),
others AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
w AS (
  SELECT l1.l_suppkey, COUNT(*) AS numwait
  FROM late l1
  WHERE EXISTS (SELECT 1 FROM others o1
                WHERE o1.l_orderkey = l1.l_orderkey
                  AND o1.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM late l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
  GROUP BY l1.l_suppkey
)
SELECT s_name, numwait
FROM w JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    "q75_click_attribution": """
SELECT c.user_id,
       COUNT(*) AS n_attributed,
       ROUND(CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS attributed_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY c.user_id
""",
    # q72: the same pair pipeline, resolved to connected components by
    # transitive closure (recursive CTE) — min reachable id = cluster
    # rep, exactly the fixpoint Spark's min-label propagation reaches.
    "q72_dedup_clusters": f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ({_minhash_sql(16, 4, 0.8)}) t
),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
best AS (SELECT a, MIN(b) AS mn FROM reach GROUP BY a)
SELECT d.doc_id,
       LEAST(d.doc_id, COALESCE(best.mn, d.doc_id)) AS cluster_rep,
       d.doc_id = LEAST(d.doc_id, COALESCE(best.mn, d.doc_id)) AS keep
FROM documents d LEFT JOIN best ON best.a = d.doc_id
""",
    "q22_simhash": f"""
WITH toks AS (SELECT doc_id, list_distinct({_TOKS}) AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
h AS (SELECT doc_id, {_md5_int('tok', 8)} AS h FROM tok),
votes AS (
  SELECT doc_id, bits.bit,
         SUM(CASE WHEN (h >> bits.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(range(0, 32)) AS bit) bits
  GROUP BY doc_id, bits.bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
""",
    # Length-band prune (lossless): jaccard >= 0.9 implies
    # min(la,lb)/max(la,lb) >= 0.9 (common <= min, union >= max), so
    # the ratio test on cardinalities alone can gate the expensive
    # list_intersect — 222 s -> 95 s at sf0.1, identical results.
    "q23_token_jaccard_bruteforce_check": f"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS tk FROM documents),
tl AS (SELECT doc_id, tk, len(tk) AS l FROM t),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) AS common,
         a.l AS la, b.l AS lb
  FROM tl a JOIN tl b
    ON a.doc_id < b.doc_id
   AND a.l * 10 >= b.l * 9 AND b.l * 10 >= a.l * 9
)
SELECT id_a, id_b, ROUND(common / (la + lb - common), 6) AS jaccard
FROM p WHERE ROUND(common / (la + lb - common), 6) >= 0.9
""",
    "q24_embedding_topk": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, ROUND({_cos('qv', 'cv')}, 6) AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5
""",
    "q25_embedding_neardup_bruteforce_check": f"""
WITH a AS (SELECT vec_id, embedding FROM embeddings)
SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       ROUND({_cos('x.embedding', 'y.embedding')}, 6) AS cos
FROM a x JOIN a y ON x.vec_id < y.vec_id
WHERE ROUND({_cos('x.embedding', 'y.embedding')}, 6) >= 0.4
""",
    "q26_ivf_topk": f"""
WITH ex AS (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings),
cent AS (SELECT label, pos, ROUND(AVG(v), 6) AS c FROM ex GROUP BY label, pos),
carr AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
routed AS (
  SELECT query_id, qv, probe_label FROM (
    SELECT q.query_id, q.qv, carr.label AS probe_label,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND({_cos('q.qv', 'carr.centroid')}, 6) DESC,
                                       carr.label) AS crank
    FROM q, carr)
  WHERE crank = 1
),
scored AS (
  SELECT r.query_id, r.probe_label, e.vec_id AS neighbor_id,
         ROUND({_cos('r.qv', 'e.embedding')}, 6) AS cos
  FROM routed r JOIN embeddings e
    ON e.label = r.probe_label AND e.vec_id <> r.query_id
)
SELECT query_id, probe_label, neighbor_id, cos,
       rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= 5
""",
    "q30_text_stats": f"""
WITH per_doc AS (
  SELECT lang, source,
         CAST(len(tk) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stop_hits,
         ROUND(
           LEAST(len(tk) / 200.0, 1.0) * 0.4
           + (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)) * 0.3
           + LEAST((CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(tk)) * 10.0, 1.0) * 0.3,
           6) AS q
  FROM (SELECT lang, source, {_TOKS} AS tk FROM documents)
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4) AS tok_per_doc,
       ROUND(CAST(SUM(stop_hits) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE), 6) AS stop_ratio,
       ROUND(SUM(q) / COUNT(*), 4) AS avg_quality
FROM per_doc GROUP BY lang, source
""",
    "q31_lang_id": f"""
WITH scored AS (
  SELECT lang,
         CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
           / len(tk) AS r
  FROM (SELECT lang, {_TOKS} AS tk FROM documents)
),
pred AS (SELECT lang,
                CASE WHEN r >= 0.08 THEN 'en'
                     WHEN r >= 0.04 THEN 'und'
                     ELSE 'other' END AS pred_lang
         FROM scored)
SELECT pred_lang, COUNT(*) AS n,
       CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS matches
FROM pred GROUP BY pred_lang
""",
    "q32_token_count": """
SELECT source,
       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+'))
                + len(regexp_extract_all(lower(text), '[0-9]+'))) AS BIGINT) AS sum_tokens,
       COUNT(*) AS n
FROM documents GROUP BY source
""",
    "q33_fingerprint": """
SELECT source,
       COUNT(DISTINCT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))) AS n_unique,
       COUNT(*) AS n
FROM documents GROUP BY source
""",
    "q34_multimodal_bytes": """
SELECT (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
       COUNT(*) AS n,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
       COUNT(DISTINCT md5(text)) AS n_unique
FROM documents GROUP BY modality
""",
    "q38_asof_join": """
WITH clicks AS (
  SELECT user_id, ts, MAX(value) AS last_click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
p AS (
  SELECT event_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
       c.last_click_value
FROM p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    "q39_range_join": f"""
WITH tiers(tier, lo, hi) AS (
  VALUES ('low', 0.0, 100.0), ('mid', 100.0, 250.0), ('high', 250.0, 500.0)
)
SELECT tier, COUNT(*) AS n, {_money('value')} AS sum_value
FROM events JOIN tiers ON value >= lo AND value < hi
GROUP BY tier
""",
    "q40_pivot": """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       ROUND(CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE), 2) AS "1-URGENT",
       ROUND(CAST(SUM(CAST(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE), 2) AS "2-HIGH",
       ROUND(CAST(SUM(CAST(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE), 2) AS "3-MEDIUM",
       ROUND(CAST(SUM(CAST(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE), 2) AS "4-NOT SPECIFIED",
       ROUND(CAST(SUM(CAST(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE), 2) AS "5-LOW"
FROM orders GROUP BY o_year
""",
    "q41_sampled_agg": f"""
SELECT o_orderpriority, COUNT(*) AS n, {_money('o_totalprice')} AS revenue
FROM orders
WHERE {_md5_int("CAST(o_orderkey AS VARCHAR)")} % 20 = 0
GROUP BY o_orderpriority
""",
    "q42_salted_join": f"""
SELECT c_mktsegment, COUNT(*) AS n, {_money('o_totalprice')} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    "q44_corpus_pipeline": f"""
WITH t AS (SELECT doc_id, source, text, {_TOKS} AS tk FROM documents),
scored AS (
  SELECT doc_id, source,
         ROUND(
           LEAST(len(tk) / 200.0, 1.0) * 0.4
           + (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)) * 0.3
           + LEAST((CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(tk)) * 10.0, 1.0) * 0.3,
           6) AS q,
         CASE WHEN CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(tk) >= 0.08 THEN 'en'
              WHEN CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(tk) >= 0.04 THEN 'und'
              ELSE 'other' END AS pred_lang,
         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
         CAST(len(tk) AS BIGINT) AS n_tokens
  FROM t
),
filt AS (SELECT * FROM scored WHERE q >= 0.45 AND pred_lang = 'en'),
kept AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM filt
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(SUM(q) / COUNT(*), 4) AS avg_quality
FROM kept WHERE rn = 1 GROUP BY source
""",
    "q50_string_funcs": """
SELECT upper(substring(c_name, 1, 3)) AS prefix,
       replace(lower(c_mktsegment), ' ', '_') AS seg,
       COUNT(*) AS n,
       CAST(SUM(length(c_name)) AS BIGINT) AS sum_len,
       CAST(SUM(CASE WHEN c_name LIKE '%5%' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_5
FROM customer
GROUP BY prefix, seg
""",
    "q51_running_total": """
WITH monthly AS (
  SELECT o_orderpriority,
         year(CAST(o_orderdate AS DATE)) AS o_year,
         month(CAST(o_orderdate AS DATE)) AS o_month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS _rev
  FROM orders GROUP BY o_orderpriority, o_year, o_month
)
SELECT o_orderpriority, o_year, o_month,
       ROUND(CAST(_rev AS DOUBLE), 2) AS revenue,
       ROUND(CAST(SUM(_rev) OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_year, o_month
                                  ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2)
         AS running_revenue
FROM monthly
""",
    "q48_sessionize": """
WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
f AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS flag
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
s AS (
  SELECT *, CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM f
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
FROM s GROUP BY user_id, session_id
""",
    "q49_embedding_lsh_neardup": f"""
WITH bits AS (
  SELECT vec_id,
         list_transform(embedding[1:16], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END) AS b,
         embedding,
         sqrt({_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
banded AS (
  SELECT vec_id, band.band,
         list_aggregate(b[band.band*4+1:band.band*4+4], 'string_agg', '') AS bsig
  FROM bits, (VALUES (0),(1),(2),(3)) AS band(band)
),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bsig = y.bsig AND x.vec_id < y.vec_id
),
scored AS (
  SELECT id_a, id_b,
         ROUND({_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) AS cos
  FROM cand JOIN bits a ON a.vec_id = id_a JOIN bits b ON b.vec_id = id_b
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.4
""",
    "q47_part_supplier_revenue": f"""
SELECT p_brand, n_name AS supp_nation,
       COUNT(*) AS n_items,
       ROUND(CAST(SUM({_DISC_PRICE}) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type LIKE 'MED%'
GROUP BY p_brand, supp_nation
""",
    "q46_tfidf_topk": f"""
WITH t AS (
  SELECT doc_id, source, unnest({_TOKS}) AS term FROM documents
),
tf AS (SELECT source, term, COUNT(*) AS tf FROM t GROUP BY source, term),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term),
total AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT source, term, tf,
         ROUND(tf * (CAST(n_docs AS DOUBLE) / df), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN total
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rn
  FROM scored
)
SELECT source, term, tf, CAST(score AS DOUBLE) AS score, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 5
""",
    "q45_having": f"""
SELECT o_custkey, COUNT(*) AS n_orders, {_money('o_totalprice')} AS revenue
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 20
""",
    "q52_forecast_revenue": """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24
""",
    "q53_customer_distribution": """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count
""",
    "q54_promo_revenue": f"""
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE}
                                   ELSE CAST(0 AS DECIMAL(19,6)) END) AS DOUBLE)
             / CAST(SUM({_DISC_PRICE}) AS DOUBLE), 6) AS promo_pct,
       CAST(ROUND(SUM({_DISC_PRICE}), 2) AS DOUBLE) AS total_revenue,
       COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
    "q55_returned_items": f"""
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM({_DISC_PRICE}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY SUM({_DISC_PRICE}) DESC, c_custkey
LIMIT 20
""",
    "q56_nation_volume": f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(CAST(l_shipdate AS DATE)) AS l_year,
       CAST(ROUND(SUM({_DISC_PRICE}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
GROUP BY supp_nation, cust_nation, l_year
""",
    "q57_window_battery": """
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       first_value(o_totalprice) OVER w AS first_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    "q58_array_funcs": """
WITH per_row AS (
  SELECT label,
         CAST(len(embedding) AS BIGINT) AS dim,
         ROUND(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
               + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE), 6) AS head_sum,
         CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx,
         CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn
  FROM embeddings
)
SELECT label, COUNT(*) AS n, MAX(dim) AS dim,
       ROUND(CAST(SUM(CAST(head_sum AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_head,
       MAX(mx) AS max_val,
       MIN(mn) AS min_val
FROM per_row GROUP BY label
""",
    "q59_argmax": """
WITH r AS (
  SELECT c_nationkey, c_name,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
  FROM customer
)
SELECT c_nationkey,
       MAX(CASE WHEN rmax = 1 THEN c_name END) AS richest,
       MAX(CASE WHEN rmin = 1 THEN c_name END) AS poorest,
       COUNT(*) AS n
FROM r GROUP BY c_nationkey
""",
    "q60_disjunctive_filter": f"""
SELECT CAST(ROUND(SUM({_DISC_PRICE}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_type = 'PROMO' AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_type = 'ECONOMY' AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#1' AND l_quantity >= 30)
""",
    "q61_sales_opportunity": f"""
WITH stats AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS psum, COUNT(*) AS pn
  FROM customer WHERE c_acctbal > 0
)
SELECT right(c_name, 1) AS cust_group,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_no_orders,
       {_money('c_acctbal')} AS total_bal
FROM customer, stats
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * pn > psum
GROUP BY cust_group
""",
    "q66_embedding_topk_pandas": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, ROUND({_cos('qv', 'cv')}, 6) AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5
""",
    "q70_filtered_distinct": """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS n_f_customers,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
""",
    # q71: recompute the numpy codec's bytes from first principles.
    # Source 16x12 image: byte k = (id*31 + k) % 256, k = (y*16+x)*3+c.
    # Nearest-neighbor 7x5: src_y = y*12//5, src_x = x*16//7 (floor) —
    # the exact index arithmetic of operators/multimodal._nn_resize.
    "q71_multimodal_resize": """
SELECT d.doc_id AS media_id,
       CAST(7 AS INT) AS width,
       CAST(5 AS INT) AS height,
       CAST(105 AS BIGINT) AS n_bytes,
       SUM((d.doc_id * 31
            + (((y.y * 12) // 5) * 16 + ((x.x * 16) // 7)) * 3
            + c.c) % 256) AS byte_sum
FROM documents d,
     generate_series(0, 4) AS y(y),
     generate_series(0, 6) AS x(x),
     generate_series(0, 2) AS c(c)
GROUP BY d.doc_id
""",
    "q69_small_quantity_revenue": f"""
WITH pp AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qsum,
         COUNT(*) AS qn
  FROM lineitem GROUP BY l_partkey
)
SELECT {_money('l_extendedprice')} AS revenue, COUNT(*) AS n
FROM lineitem JOIN pp ON l_partkey = pk
WHERE CAST(l_quantity AS DECIMAL(18,2)) * qn * 5 < qsum
""",
    "q67_shipping_priority": f"""
SELECT o_orderkey,
       epoch_us(o_orderdate) AS o_orderdate_us,
       o_orderpriority,
       CAST(ROUND(SUM({_DISC_PRICE}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY SUM({_DISC_PRICE}) DESC, o_orderkey
LIMIT 10
""",
    "q68_late_shipment_ratio": """
SELECT year(CAST(l_shipdate AS DATE)) AS l_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_year
""",
    "q62_large_orders": """
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       CAST(sq AS DOUBLE) AS sum_qty
FROM (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
      FROM lineitem GROUP BY l_orderkey HAVING sq > 250) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
    "q63_top_supplier": f"""
WITH rev AS (
  SELECT l_suppkey, SUM({_DISC_PRICE}) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
),
m AS (SELECT MAX(r) AS mr FROM rev)
SELECT s_suppkey, s_name, CAST(ROUND(r, 2) AS DOUBLE) AS total_rev
FROM rev, m
JOIN supplier ON s_suppkey = l_suppkey
WHERE r = mr
""",
    "q64_market_share": f"""
SELECT year(CAST(l_shipdate AS DATE)) AS l_year,
       ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_9' THEN {_DISC_PRICE}
                           ELSE CAST(0 AS DECIMAL(19,6)) END) AS DOUBLE)
             / CAST(SUM({_DISC_PRICE}) AS DOUBLE), 6) AS mkt_share,
       CAST(ROUND(SUM({_DISC_PRICE}), 2) AS DOUBLE) AS total_revenue,
       COUNT(*) AS n
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY l_year
""",
    "q65_grouping_sets": f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       {_money('o_totalprice')} AS revenue,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    # q82: same token array; DuckDB lists are 1-indexed so the n-gram
    # comprehensions run i in [1, len-n+1]; divisions order-matched to
    # the Spark expressions (double/double) for bit parity.
    "q82_repetition_stats": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       ROUND(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE), 6)
         AS dup_token_ratio,
       ROUND(CAST(list_max(list_transform(list_distinct(tk),
                    x -> len(list_filter(tk, y -> y = x)))) AS DOUBLE)
             / CAST(len(tk) AS DOUBLE), 6) AS top_token_ratio,
       ROUND(1.0 - CAST(len(list_distinct([tk[i] || ' ' || tk[i+1]
                                           FOR i IN range(1, len(tk))])) AS DOUBLE)
             / CAST(len(tk) - 1 AS DOUBLE), 6) AS dup_bigram_ratio,
       ROUND(1.0 - CAST(len(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                                           FOR i IN range(1, len(tk) - 1)])) AS DOUBLE)
             / CAST(len(tk) - 2 AS DOUBLE), 6) AS dup_trigram_ratio
FROM toks WHERE len(tk) >= 3
""",
    # q83: benchmark = doc_id < 25; distinct 5-grams per doc, semi
    # join on the shingle string.
    "q83_contamination_check": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                        || tk[i+3] || ' ' || tk[i+4]
                        FOR i IN range(1, len(tk) - 3)]) AS sh
  FROM toks WHERE len(tk) >= 5
),
bench AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id < 25),
corp AS (SELECT * FROM sh WHERE doc_id >= 25),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM (SELECT doc_id, unnest(sh) AS s FROM corp)
  WHERE s IN (SELECT s FROM bench)
  GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(len(c.sh) AS BIGINT) AS n_grams,
       COALESCE(h.n_hit, 0) AS n_hit,
       ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(len(c.sh) AS DOUBLE), 6)
         AS containment
FROM corp c LEFT JOIN hits h USING (doc_id)
""",
    # q84: the md5 bucket formula is shared with q73 (sampling salt
    # differs); bounds = round(rate * 1e6).
    "q84_stratified_sample": f"""
WITH b AS (
  SELECT lang, n_chars,
         {_md5_int("'sample-v1' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
  FROM documents
)
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 250000
                         WHEN 'de' THEN 1000000
                         WHEN 'fr' THEN 750000
                         ELSE 500000 END
GROUP BY lang
""",
    # q85: one UNION ALL branch per profiled column; COUNT(DISTINCT)
    # excludes NULLs in both engines; min/max only for numerics.
    "q85_profile": """
SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       ROUND(CAST(MIN(o_orderkey) AS DOUBLE), 4) AS min_num,
       ROUND(CAST(MAX(o_orderkey) AS DOUBLE), 4) AS max_num
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       ROUND(CAST(MIN(o_custkey) AS DOUBLE), 4),
       ROUND(CAST(MAX(o_custkey) AS DOUBLE), 4)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*),
       CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 4),
       ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 4)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM orders
UNION ALL
SELECT 'o_orderdate', COUNT(*),
       CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM orders
""",
    # q86: flags mirror the Spark rule chain; f4's NULL (docs with < 2
    # tokens) coalesces to FALSE in both engines.
    "q86_quality_funnel": f"""
WITH toks AS (SELECT {_TOKS} AS tk FROM documents),
flags AS (
  SELECT (len(tk) >= 30 AND len(tk) <= 5000) AS f1,
         (CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE)
            / CAST(len(tk) AS DOUBLE) BETWEEN 2.5 AND 12.0) AS f2,
         (CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it')))
               AS DOUBLE) / CAST(len(tk) AS DOUBLE) >= 0.02) AS f3,
         COALESCE(
           CASE WHEN len(tk) >= 2 THEN
             1.0 - CAST(len(list_distinct([tk[i] || ' ' || tk[i+1]
                                           FOR i IN range(1, len(tk))])) AS DOUBLE)
                   / CAST(len(tk) - 1 AS DOUBLE)
           END <= 0.4, FALSE) AS f4
  FROM toks
),
agg AS (
  SELECT COUNT(*) AS n0,
         SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS n3,
         SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS n4
  FROM flags
)
SELECT '0_total' AS stage, CAST(n0 AS BIGINT) AS n_pass,
       ROUND(CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS retention FROM agg
UNION ALL
SELECT '1_length', CAST(n1 AS BIGINT),
       ROUND(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) FROM agg
UNION ALL
SELECT '2_word_len', CAST(n2 AS BIGINT),
       ROUND(CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) FROM agg
UNION ALL
SELECT '3_stopwords', CAST(n3 AS BIGINT),
       ROUND(CAST(n3 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) FROM agg
UNION ALL
SELECT '4_repetition', CAST(n4 AS BIGINT),
       ROUND(CAST(n4 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) FROM agg
""",
    # q87: identical moment definitions both engines (sample vs
    # population variants spelled explicitly); skew/kurtosis excluded
    # (Spark population vs DuckDB sample corrections differ).
    "q87_stats_battery": """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
       ROUND(stddev_pop(l_quantity), 6) AS sdp_qty,
       ROUND(var_samp(l_quantity), 6) AS var_qty,
       ROUND(var_pop(l_quantity), 6) AS varp_qty,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
       ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qty_price
FROM lineitem GROUP BY l_returnflag
""",
    # q88: regexp_extract group-1 / match / split / translate /
    # reverse / lpad / strpos / repeat / ascii — same semantics both
    # engines on this ASCII data.
    "q88_string_battery2": r"""
WITH s AS (
  SELECT CAST(regexp_extract(c_name, 'Customer#(\d+)', 1) AS BIGINT) AS name_id,
         CASE WHEN regexp_matches(c_name, '00\d*7$') THEN 1 ELSE 0 END AS ends_7ish,
         string_split(c_name, '#')[1] AS stem,
         translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels,
         reverse(c_mktsegment) AS seg_rev,
         lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
         CAST(strpos(c_mktsegment, 'U') AS BIGINT) AS u_pos,
         repeat(substr(c_mktsegment, 1, 1), 2) AS twice_initial,
         CAST(ascii(c_mktsegment) AS INT) AS initial_code
  FROM customer
)
SELECT stem, seg_lower_vowels, seg_rev, twice_initial, initial_code,
       COUNT(*) AS n,
       CAST(SUM(name_id) AS BIGINT) AS sum_ids,
       CAST(SUM(ends_7ish) AS BIGINT) AS n_7ish,
       MAX(padded_key) AS max_padded,
       CAST(SUM(u_pos) AS BIGINT) AS sum_u_pos
FROM s
GROUP BY stem, seg_lower_vowels, seg_rev, twice_initial, initial_code
""",
    "q43_above_nation_avg": """
WITH s AS (
  SELECT c_nationkey, SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS ssum,
         COUNT(*) AS n
  FROM customer GROUP BY c_nationkey
)
SELECT c.c_nationkey, COUNT(*) AS n_above
FROM customer c JOIN s USING (c_nationkey)
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > ssum
GROUP BY c.c_nationkey
""",
    "q89_order_priority_check": """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
GROUP BY o_orderpriority
""",
    "q90_min_cost_supplier": """
WITH ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM lineitem GROUP BY 1, 2
),
eur AS (
  SELECT p_partkey, p_brand, s_name, s_acctbal, pk, sk, cost
  FROM ps
  JOIN supplier ON sk = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  JOIN part ON pk = p_partkey
  WHERE r_name = 'EUROPE' AND p_size <= 5
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY cost, sk) AS rn
  FROM eur
)
SELECT p_partkey, p_brand, s_name, s_acctbal,
       CAST(cost AS DOUBLE) AS cost
FROM r WHERE rn = 1
""",
    "q91_parts_supplier_counts": """
WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem GROUP BY 1, 2)
SELECT p_brand, p_size, COUNT(DISTINCT sk) AS supplier_cnt
FROM ps JOIN part ON pk = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 3, 5, 7)
  AND sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
""",
    "q92_excess_stock_suppliers": """
WITH ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
tot AS (SELECT pk, SUM(sq) AS tot FROM ps GROUP BY pk)
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (SELECT sk FROM ps JOIN tot USING (pk) WHERE sq * 2 > tot.tot)
""",
    "q93_important_stock": """
WITH val AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_5'
  GROUP BY l_partkey
),
t AS (SELECT SUM(v) AS t FROM val)
SELECT l_partkey, ROUND(CAST(v AS DOUBLE), 2) AS value
FROM val, t WHERE v * 1000 > t.t
""",
    "q94_sequence_packing": f"""
WITH d AS (
  SELECT lang, doc_id, CAST(len({_TOKS}) AS BIGINT) AS tk FROM documents
),
c AS (
  SELECT lang, tk,
         SUM(tk) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
)
SELECT lang, CAST(FLOOR((cum - tk) / 2048) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs, CAST(SUM(tk) AS BIGINT) AS bin_tokens
FROM c GROUP BY lang, bin_id
""",
    "q95_domain_mixture": f"""
WITH g AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens
  FROM documents GROUP BY source, lang
),
t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot, COUNT(*) AS n_groups FROM g)
SELECT source, lang, n_docs, tokens,
       ROUND(CAST(tokens AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS token_share,
       ROUND(CAST(tot AS DOUBLE) / (CAST(n_groups AS DOUBLE) * CAST(tokens AS DOUBLE)), 6)
         AS resample_weight
FROM g, t
""",
    # q96: non-overlapping 3-token passages (last may be shorter);
    # DuckDB lists are 1-indexed and slices are inclusive.
    "q96_passage_dedup": f"""
WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
ch AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(tk[i*3+1 : i*3+3], ' ')
                               for i in range(CAST(ceil(len(tk) / 3.0) AS INT))])) AS passage
  FROM d WHERE len(tk) > 0
),
pc AS (SELECT passage, COUNT(*) AS nd FROM ch GROUP BY passage)
SELECT ch.doc_id,
       COUNT(*) AS n_passages,
       SUM(CASE WHEN pc.nd >= 2 THEN 1 ELSE 0 END) AS n_shared,
       ROUND(CAST(SUM(CASE WHEN pc.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
FROM ch JOIN pc USING (passage)
GROUP BY ch.doc_id
""",
    "q97_vocab_coverage": f"""
WITH tf AS (
  SELECT lang, unnest({_TOKS}) AS term FROM documents
),
freq AS (SELECT lang, term, COUNT(*) AS f FROM tf GROUP BY lang, term),
ranked AS (
  SELECT lang, f,
         SUM(f) OVER (PARTITION BY lang ORDER BY f DESC, term
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(f) OVER (PARTITION BY lang) AS tot
  FROM freq
)
SELECT lang, COUNT(*) AS n_terms, CAST(MAX(tot) AS BIGINT) AS total_tokens,
       SUM(CASE WHEN cum < tot * 0.9 THEN 1 ELSE 0 END) + 1 AS n_terms_cov
FROM ranked GROUP BY lang
""",
    "q98_knn_label_vote": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS own
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl FROM embeddings),
scored AS (
  SELECT query_id, own, neighbor_id, nl,
         ROUND({_cos('qv', 'cv')}, 6) AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= 5
),
votes AS (
  SELECT query_id, own, nl, COUNT(*) AS votes, MAX(cos) AS best
  FROM topk GROUP BY query_id, own, nl
)
SELECT query_id, CAST(own AS BIGINT) AS label,
       CAST(nl AS BIGINT) AS pred_label, votes
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, best DESC, nl) AS vr
      FROM votes)
WHERE vr = 1
""",
    # q99: SCD2 — change rows via NULL-safe lag compare, intervals via
    # lead; epoch micros so timezone can't leak.
    "q99_scd2_history": """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changed AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER v) AS valid_to_us,
       row_number() OVER v AS version
FROM changed
WINDOW v AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    # q100: greedy arrival-order near-dup resolution — the sequential
    # "first doc wins, dropped docs never block" fold replayed exactly
    # via a recursive CTE over the (small) candidate set.
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so the
    # recursive member's EXISTS over `pairs` re-ran the whole MinHash
    # pipeline every iteration (661 s at sf0.1; 2.3 s materialized).
    "q100_neardup_corpus": f"""
WITH RECURSIVE
pairs AS MATERIALIZED ({_minhash_sql(16, 4, 0.8)}),
cand AS (
  SELECT DISTINCT id FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs)
),
ord AS MATERIALIZED (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM cand),
fold AS (
  SELECT 0 AS rn, CAST([] AS BIGINT[]) AS kept
  UNION ALL
  SELECT o.rn,
         CASE WHEN EXISTS (SELECT 1 FROM pairs p
                           WHERE p.id_b = o.id AND list_contains(f.kept, p.id_a))
              THEN f.kept
              ELSE list_append(f.kept, o.id) END
  FROM fold f JOIN ord o ON o.rn = f.rn + 1
),
final_kept AS (SELECT kept FROM fold ORDER BY rn DESC LIMIT 1),
dropped AS (
  SELECT c.id FROM cand c, final_kept fk WHERE NOT list_contains(fk.kept, c.id)
)
SELECT d.lang, COUNT(*) AS n_docs,
       SUM(CASE WHEN d.doc_id IN (SELECT id FROM dropped) THEN 0 ELSE 1 END)
         AS n_kept
FROM documents d GROUP BY d.lang
""",
    # q101: prefix-filtered 4-gram blocking + Levenshtein entity
    # resolution; corruption (one deterministic char deletion), gram
    # size, prefix length (q*max_dist+1 = 9), and canonical (df, gram)
    # prefix order mirror plans/queries.q101 exactly.
    "q101_fuzzy_match": """
WITH clean AS (
  SELECT doc_id AS id, md5(CAST(doc_id AS VARCHAR)) AS name FROM documents
),
dirty AS (
  SELECT id AS did,
         substr(name, 1, CAST(id % len(name) AS INT))
         || substr(name, CAST(id % len(name) AS INT) + 2) AS dname
  FROM clean
),
dg AS (
  SELECT did, unnest(list_distinct([substr(dname, i+1, 4)
                                    for i in range(len(dname) - 3)])) AS g
  FROM dirty WHERE len(dname) >= 4
),
cg AS (
  SELECT id, unnest(list_distinct([substr(name, i+1, 4)
                                   for i in range(len(name) - 3)])) AS g
  FROM clean WHERE len(name) >= 4
),
dftab AS (SELECT g, COUNT(*) AS df FROM cg GROUP BY g),
dpref AS (
  SELECT did, g FROM (
    SELECT did, g, row_number() OVER (PARTITION BY did
                                      ORDER BY COALESCE(df, 0), g) AS rn
    FROM dg LEFT JOIN dftab USING (g))
  WHERE rn <= 9
),
cpref AS (
  SELECT id, g FROM (
    SELECT id, g, row_number() OVER (PARTITION BY id
                                     ORDER BY COALESCE(df, 0), g) AS rn
    FROM cg LEFT JOIN dftab USING (g))
  WHERE rn <= 9
),
cand AS (
  SELECT DISTINCT did, id FROM dpref JOIN cpref USING (g)
),
ver AS (
  SELECT c.did, c.id, levenshtein(d.dname, cl.name) AS dist
  FROM cand c JOIN dirty d USING (did) JOIN clean cl USING (id)
  WHERE levenshtein(d.dname, cl.name) <= 2
)
SELECT did, id, CAST(dist AS BIGINT) AS dist
FROM (SELECT *, row_number() OVER (PARTITION BY did
                                   ORDER BY dist, id) AS rn FROM ver)
WHERE rn = 1
""",
    # q102: sketch values are engine-specific; the oracle pins the
    # exact counts and asserts the Spark-side sketch contracts held
    # (merged and direct estimates inside the 5% band, merged within
    # 2% of direct — accuracy equivalence, not byte equality: the
    # HLL_4 union path lands registers differently than the direct
    # sketch past coupon mode) — q19's design.
    "q102_hll_mergeable": """
SELECT COUNT(DISTINCT event_type) AS n_types,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS merged_ok,
       TRUE AS direct_ok,
       TRUE AS merge_close
FROM events
""",
    # q103: hourly grid between each user's first and last active
    # hour; v_sum rounded BEFORE the forward fill so both engines
    # fill the same doubles.
    "q103_gap_fill": """
WITH per_slot AS (
  SELECT user_id, date_trunc('hour', ts) AS slot,
         COUNT(*) AS n_events,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS v_sum
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT user_id, MIN(slot) AS lo, MAX(slot) AS hi
           FROM per_slot GROUP BY 1),
grid AS (SELECT user_id,
                UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot
         FROM bounds),
j AS (SELECT g.user_id, g.slot, p.n_events, p.v_sum
      FROM grid g LEFT JOIN per_slot p USING (user_id, slot))
SELECT user_id, epoch_us(slot) AS slot_us,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       v_sum,
       last_value(v_sum IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY slot
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
FROM j
""",
    # q104: mean/std derived from the SAME exact decimal moment sums
    # as the Spark twin, then the identical double z formula — any
    # drift in the flags fails the hash.
    "q104_anomaly_zscore": """
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,4))) AS s1,
         SUM(CAST(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))
                  AS DECIMAL(38,8))) AS s2
  FROM events GROUP BY 1
),
m AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / n AS mean_v,
         sqrt((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS std_v
  FROM stats
)
SELECT e.event_type, m.n,
       CAST(SUM(CASE WHEN abs((CAST(e.value AS DOUBLE) - m.mean_v) / m.std_v)
                          > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS anomalies,
       ROUND(m.mean_v, 4) AS mean_value,
       ROUND(m.std_v, 4) AS stddev_value
FROM events e JOIN m USING (event_type)
GROUP BY e.event_type, m.n, m.mean_v, m.std_v
""",
    # q105: discrete percentiles are real data values (smallest value
    # with cume_dist >= p in both engines) — clip thresholds are
    # bit-identical, so the clipped decimal mean is too.
    "q105_winsorized_mean": """
WITH pct AS (
  SELECT o_orderpriority,
         quantile_disc(o_totalprice, 0.05) AS lo,
         quantile_disc(o_totalprice, 0.95) AS hi,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT o.o_orderpriority, p.n_orders,
       ROUND(p.lo, 2) AS p05, ROUND(p.hi, 2) AS p95,
       ROUND(CAST(SUM(CAST(LEAST(GREATEST(o.o_totalprice, p.lo), p.hi)
                           AS DECIMAL(18,2))) AS DOUBLE) / p.n_orders,
             4) AS winsorized_mean
FROM orders o JOIN pct p USING (o_orderpriority)
GROUP BY o.o_orderpriority, p.n_orders, p.lo, p.hi
""",
    # q106: cohort = per-user first active day; cells count distinct
    # users at day offsets 0..7.
    "q106_retention_cohorts": """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY 1
),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT f.cohort_day,
       CAST(datediff('day', f.cohort_day, a.day) AS INT) AS day_offset,
       COUNT(DISTINCT a.user_id) AS users
FROM activity a JOIN firsts f USING (user_id)
WHERE datediff('day', f.cohort_day, a.day) <= 7
GROUP BY 1, 2
""",
    # q107: canonical form = lower, non-alnum -> space, collapse
    # runs, trim; DuckDB regexp_replace needs the 'g' flag to match
    # Spark's replace-all default.
    "q107_canonical_dedup": """
WITH united AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         upper(replace(text, ' ', '  ')) || ' !!' AS text
  FROM documents WHERE doc_id % 5 = 0
),
canon AS (
  SELECT doc_id,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'))) AS canon_hash
  FROM united
)
SELECT canon_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM canon GROUP BY 1 HAVING COUNT(*) > 1
""",
    # q108: distinct word bigrams per doc; novelty = share whose
    # corpus-wide min doc_id is this doc. DuckDB lists are 1-indexed
    # (same comprehension shape as _SHINGLES_CTE).
    "q108_ngram_novelty": """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
bg AS (
  SELECT doc_id,
         UNNEST(list_distinct([tk[i] || ' ' || tk[i+1]
                               FOR i IN range(1, len(tk))])) AS g
  FROM toks WHERE len(tk) >= 2
),
firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM bg GROUP BY 1)
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS novel,
       ROUND(CAST(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novelty
FROM bg b JOIN firsts f USING (g)
GROUP BY b.doc_id
""",
    # q109: both calendars pre-aggregate before the full outer join;
    # the day domains are disjoint so both null sides appear.
    "q109_full_outer_reconcile": """
WITH ocal AS (
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_o
  FROM orders GROUP BY 1
),
ecal AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_e
  FROM events GROUP BY 1
)
SELECT COALESCE(o.day, e.day) AS day,
       CAST(COALESCE(o.n_o, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(e.n_e, 0) AS BIGINT) AS n_events,
       CASE WHEN o.day IS NULL THEN 'events_only'
            WHEN e.day IS NULL THEN 'orders_only'
            ELSE 'both' END AS src
FROM ocal o FULL JOIN ecal e ON o.day = e.day
""",
    # q110: the same correlated LATERAL shape, decorrelated by both
    # engines; tiebreak on (bal DESC, nation) is total.
    "q110_lateral_topn": """
SELECT r.r_name AS region, l.nation, l.bal
FROM region r JOIN LATERAL (
  SELECT n.n_name AS nation,
         ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS bal
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY bal DESC, n.n_name
  LIMIT 2
) l ON TRUE
""",
    # q111: the Morton key tree is generated by _zorder_sql so the
    # Spark and DuckDB bit layouts can never drift independently.
    "q111_zorder_key": _zorder_sql(16),
    # q112: same double bin formula; DuckDB floor returns double.
    "q112_histogram": """
WITH stats AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
),
binned AS (
  SELECT CAST(LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 20.0)), 19)
              AS INT) AS bin,
         lo, hi
  FROM orders, stats
)
SELECT bin,
       ROUND(lo + bin * ((hi - lo) / 20.0), 2) AS bin_lo,
       ROUND(lo + (bin + 1) * ((hi - lo) / 20.0), 2) AS bin_hi,
       COUNT(*) AS n
FROM binned GROUP BY bin, lo, hi
""",
    # q113: sketch values are engine-specific; the oracle pins the
    # exact discrete percentiles and the rank-bound booleans.
    "q113_approx_percentile_contract": """
SELECT 0.5 AS p, ROUND(quantile_disc(o_totalprice, 0.5), 2) AS exact_v,
       TRUE AS rank_ok
FROM orders
UNION ALL
SELECT 0.9 AS p, ROUND(quantile_disc(o_totalprice, 0.9), 2) AS exact_v,
       TRUE AS rank_ok
FROM orders
""",
    # q114: Gini from exact integer rank×count sums; entropy rounded
    # 6dp (double sum, order drift ~1e-14 relative).
    "q114_key_skew_profile": """
WITH counts AS (
  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1
),
ranked AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt ASC, o_custkey ASC) AS rk,
         row_number() OVER (ORDER BY cnt DESC, o_custkey ASC) AS drk
  FROM counts
),
stats AS (
  SELECT COUNT(*) AS n_keys,
         SUM(cnt) AS total,
         MAX(cnt) AS maxc,
         SUM(CAST(rk AS HUGEINT) * cnt) AS iwx,
         SUM(CASE WHEN drk <= 10 THEN cnt ELSE 0 END) AS top10
  FROM ranked
),
ent AS (
  SELECT ROUND(-SUM((CAST(cnt AS DOUBLE) / total)
                    * ln(CAST(cnt AS DOUBLE) / total)), 6) AS entropy
  FROM counts, stats
)
SELECT CAST(n_keys AS BIGINT) AS n_keys,
       CAST(total AS BIGINT) AS total,
       ROUND(CAST(maxc AS DOUBLE) / total, 6) AS max_share,
       ROUND(CAST(top10 AS DOUBLE) / total, 6) AS top10_share,
       entropy,
       ROUND(2.0 * CAST(iwx AS DOUBLE) / (n_keys * total)
             - CAST(n_keys + 1 AS DOUBLE) / n_keys, 6) AS gini
FROM stats, ent
""",
    # q115: same walk; DuckDB spells integer division //.
    "q115_recursive_hierarchy": """
WITH RECURSIVE walk AS (
  SELECT c_custkey AS custkey, c_custkey AS node, 0 AS depth
  FROM customer
  UNION ALL
  SELECT custkey, node // 10, depth + 1 FROM walk WHERE node >= 10
)
SELECT custkey,
       CAST(MAX(depth) AS INT) AS depth,
       MAX(CASE WHEN node < 10 THEN node END) AS root
FROM walk GROUP BY custkey
""",
    # q116: all commutative-associative aggregates; DuckDB count(*)
    # FILTER mirrors count_if.
    "q116_agg_battery": """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_totalprice > 200000.0) AS n_high,
       BOOL_OR(o_totalprice > 200000.0) AS any_high,
       BOOL_AND(o_totalprice > 0) AS all_positive,
       CAST(BIT_AND(o_orderkey) AS BIGINT) AS key_band,
       CAST(BIT_OR(o_orderkey) AS BIGINT) AS key_bor,
       CAST(BIT_XOR(o_orderkey) AS BIGINT) AS key_bxor
FROM orders GROUP BY 1
""",
    # q117: first-occurrence cascade with strict > between stages.
    "q117_funnel": """
WITH v AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
  WHERE e.event_type = 'click' GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM v) AS viewed,
       (SELECT COUNT(*) FROM c) AS clicked,
       (SELECT COUNT(*) FROM p) AS purchased,
       ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / (SELECT COUNT(*) FROM v), 6) AS view_to_purchase
""",
    # q118: sampled frame k slices container bytes [k*5*144, +144);
    # container byte m = (id*31 + m) % 256 — q71's closed form over
    # the frame axis.
    "q118_video_frame_stats": """
SELECT d.doc_id AS media_id,
       CAST(k.k AS INT) AS frame_idx,
       CAST(144 AS BIGINT) AS n_bytes,
       CAST(SUM((d.doc_id * 31 + (k.k * 5 * 144) + j.j) % 256)
            AS BIGINT) AS byte_sum
FROM documents d,
     generate_series(0, 1) AS k(k),
     generate_series(0, 143) AS j(j)
GROUP BY d.doc_id, k.k
""",
    # q119: survivors = keys with no change (seq 0) or an update
    # (updated price); deleted keys (k % 7 = 0) vanish.
    "q119_cdc_apply": """
WITH survivors AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0
              THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                        + CAST(10 AS DECIMAL(4,2)) AS DECIMAL(18,2))
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
  FROM orders
  WHERE o_orderkey % 7 <> 0
)
SELECT o_orderstatus, COUNT(*) AS n_rows,
       ROUND(CAST(SUM(price) AS DOUBLE), 2) AS total_price
FROM survivors GROUP BY 1
""",
    # q120: DuckDB's JSON extraction mirrors the variant path; sum
    # over INT widens to HUGEINT -> cast.
    "q120_variant_extract": """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT CAST(json_extract(props, '$.k') AS INT)) AS n_distinct_k,
       MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY 1
""",
    # q121: DuckDB's ordered list agg sliced to 3 mirrors
    # sort_array(collect_list(struct)) with the same total order.
    "q121_grouped_topk_arrays": """
SELECT c_nationkey,
       (list(c_name ORDER BY c_acctbal DESC, c_custkey ASC))[1:3]
         AS top3_names,
       COUNT(*) AS n_customers
FROM customer GROUP BY 1
""",
    # q122: same rational lift (no ln) and the same IEEE expression
    # shape — numerator product left-assoc, one division at the end.
    "q122_pmi_collocations": f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
),
uni AS (SELECT UNNEST(tk) AS t FROM toks),
unic AS (SELECT t, COUNT(*) AS c_t FROM uni GROUP BY 1),
bg AS (
  SELECT UNNEST([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS g
  FROM toks WHERE len(tk) >= 2
),
bgc AS (SELECT g, COUNT(*) AS c_xy FROM bg GROUP BY 1 HAVING COUNT(*) >= 5),
totals AS (
  SELECT (SELECT COUNT(*) FROM uni) AS n_uni,
         (SELECT COUNT(*) FROM bg) AS n_bg
),
scored AS (
  SELECT b.g AS bigram, b.c_xy, ux.c_t AS c_x, uy.c_t AS c_y,
         ROUND(CAST(b.c_xy AS DOUBLE) * CAST(t.n_uni AS DOUBLE)
               * CAST(t.n_uni AS DOUBLE)
               / (CAST(t.n_bg AS DOUBLE) * CAST(ux.c_t AS DOUBLE)
                  * CAST(uy.c_t AS DOUBLE)), 6) AS lift
  FROM bgc b
  JOIN unic ux ON string_split(b.g, ' ')[1] = ux.t
  JOIN unic uy ON string_split(b.g, ' ')[2] = uy.t
  CROSS JOIN totals t
),
r AS (
  SELECT *, row_number() OVER (ORDER BY lift DESC, bigram ASC) AS rn
  FROM scored
)
SELECT bigram, c_xy, c_x, c_y, lift, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 20
""",
    # q123: distinct (doc,term) pairs; postings = first 8 sorted doc
    # ids; idf is the q46 rational n_docs/df; stopword cut at 78% df.
    "q123_inverted_index": f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, UNNEST({_TOKS}) AS term FROM documents
),
total AS (SELECT COUNT(*) AS n_docs FROM documents),
agg AS (
  SELECT term, COUNT(*) AS df,
         (list(doc_id ORDER BY doc_id ASC))[1:8] AS postings
  FROM pairs GROUP BY 1
)
SELECT term, df,
       ROUND(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE), 6) AS idf,
       postings
FROM agg CROSS JOIN total
WHERE CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) <= 0.78
""",
    # q124: both medians are discrete (quantile_disc picks real data
    # values); the 3*MAD fence and abs-dev arithmetic are plain IEEE
    # doubles, mirrored term for term.
    "q124_mad_outliers": """
WITH med AS (
  SELECT event_type, quantile_disc(value, 0.5) AS med,
         COUNT(*) AS n_events
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, m.n_events, m.med,
         ABS(e.value - m.med) AS ad
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, n_events, med, quantile_disc(ad, 0.5) AS mad
  FROM dev GROUP BY 1, 2, 3
)
SELECT d.event_type, d.n_events,
       ROUND(d.med, 6) AS median,
       ROUND(m.mad, 6) AS mad,
       CAST(SUM(CASE WHEN d.ad > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, d.n_events, d.med, m.mad
""",
    # q125: DuckDB range() excludes the stop like Spark's
    # sequence(0, n-1, stride) includes only values <= n-1; list
    # slices are 1-based inclusive and clamp at the end on both
    # engines, so chunk contents match token for token.
    "q125_doc_chunking": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
st AS (
  SELECT doc_id, tk, UNNEST(range(0, len(tk), 24)) AS start
  FROM toks WHERE len(tk) >= 1
)
SELECT doc_id,
       CAST(start // 24 AS BIGINT) AS chunk_idx,
       CAST(len(tk[start + 1 : start + 32]) AS INT) AS chunk_len,
       {_md5_int("array_to_string(tk[start + 1 : start + 32], ' ')")}
         AS chunk_sig
FROM st
""",
    # q126: same exact-integer accumulation (sum of BIGINT term
    # counts, widened then cast back) with the one IEEE division at
    # the end; rare threshold compared in integers (c_t*5000 < N).
    "q126_unigram_lm_score": f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents
),
counts AS (SELECT term, COUNT(*) AS c_t FROM tok GROUP BY 1),
total AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_total FROM counts)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(c.c_t) AS BIGINT) AS sum_c,
       CAST(SUM(CASE WHEN c.c_t * 5000 < tt.n_total THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rare,
       ROUND(CAST(SUM(c.c_t) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(tt.n_total) AS DOUBLE)),
             9) AS avg_prob
FROM tok t JOIN counts c USING (term) CROSS JOIN total tt
GROUP BY t.doc_id
""",
    # q127: quantile_disc picks real data values like percentile_disc;
    # the strict > binning rule is mirrored term for term, so
    # boundary ties land in the same (lower) bin on both engines.
    "q127_equidepth_bins": """
WITH bounds AS (
  SELECT quantile_disc(o_totalprice,
                       [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
  FROM orders
),
binned AS (
  SELECT o.o_totalprice,
         CAST(1 + len(list_filter(b.bs, x -> o.o_totalprice > x)) AS INT)
           AS bin
  FROM orders o CROSS JOIN bounds b
)
SELECT bin, COUNT(*) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS bin_revenue
FROM binned GROUP BY 1
""",
    # q128: the map battery's scalars re-derived with plain
    # conditional aggregation — the relational ground truth the map
    # path must reproduce key-addressed.
    "q128_map_battery": """
WITH per AS (
  SELECT o_custkey, o_orderpriority, COUNT(*) AS c
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_priorities,
       CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                              THEN c END), 0) AS BIGINT) AS n_urgent,
       CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '5-LOW'
                              THEN c END), 0) AS BIGINT) AS n_low,
       CAST(SUM(c) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT)
         AS n_in_repeat_priorities
FROM per GROUP BY o_custkey
""",
    # q129: q99's SCD2 history rebuilt verbatim, probed by the q103
    # hourly grid with the same half-open [from, to) containment rule.
    "q129_pit_join": """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changed AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev
),
hist AS (
  SELECT user_id, event_type,
         epoch_us(ts) AS valid_from_us,
         epoch_us(lead(ts) OVER v) AS valid_to_us,
         row_number() OVER v AS version
  FROM changed
  WINDOW v AS (PARTITION BY user_id ORDER BY ts, event_id)
),
bounds AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS lo,
         date_trunc('hour', MAX(ts)) AS hi
  FROM events GROUP BY 1
),
grid AS (
  SELECT user_id, epoch_us(UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)))
           AS t_us
  FROM bounds
)
SELECT g.user_id, g.t_us, h.event_type AS attr_at_t, h.version
FROM grid g JOIN hist h ON g.user_id = h.user_id
WHERE h.valid_from_us <= g.t_us
  AND (h.valid_to_us IS NULL OR g.t_us < h.valid_to_us)
""",
    # q130: identical exact moment sums (integer x, decimal y and
    # x*y), then the identical IEEE slope/intercept expression —
    # term-for-term, so the doubles agree bit for bit.
    "q130_regression_by_group": """
WITH agg AS (
  SELECT o_orderpriority,
         COUNT(*) AS n,
         SUM(CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                  AS BIGINT)) AS sx,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                  AS DECIMAL(18,0))
             * CAST(o_totalprice AS DECIMAL(18,2))) AS sxy,
         SUM(CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
             * CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                    AS BIGINT)) AS sxx
  FROM orders GROUP BY 1
),
s AS (
  SELECT o_orderpriority, n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM agg
)
SELECT o_orderpriority, n,
       ROUND(slope, 6) AS slope,
       ROUND((syd - slope * sxd) / CAST(n AS DOUBLE), 4) AS intercept
FROM s
""",
    # q131: pure integer Hamilton apportionment — same DIV/mod
    # quotas, same (remainder DESC, source, lang) leftover ranking.
    "q131_sample_allocation": f"""
WITH grp AS (
  SELECT source, lang,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t FROM grp),
quota AS (
  SELECT source, lang, tokens,
         CAST((1000 * tokens) // t AS BIGINT) AS base,
         CAST((1000 * tokens) % t AS BIGINT) AS rem
  FROM grp CROSS JOIN tot
),
lft AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS leftover FROM quota),
rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC, lang ASC) AS r
  FROM quota
)
SELECT source, lang, tokens,
       CAST(base + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS n_sampled
FROM rk CROSS JOIN lft
""",
    # q132: the same exact BIGINT cross-products (c_st·N − c_t·N_s)
    # summed before the one per-source IEEE division; absent-term
    # mass derived identically from the present-term join.
    "q132_source_divergence": f"""
WITH st AS (
  SELECT source, UNNEST({_TOKS}) AS term FROM documents
),
c AS (SELECT source, term, COUNT(*) AS c_st FROM st GROUP BY 1, 2),
gc AS (SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM c GROUP BY 1),
ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM c GROUP BY 1),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ns),
per AS (
  SELECT c.source, ns.n_s, t.n_tot,
         CAST(SUM(ABS(c.c_st * t.n_tot - g.c_t * ns.n_s)) AS BIGINT)
           AS present,
         CAST(SUM(g.c_t) AS BIGINT) AS ct_present
  FROM c
  JOIN gc g USING (term)
  JOIN ns USING (source)
  CROSS JOIN tot t
  GROUP BY 1, 2, 3
)
SELECT source, n_s AS n_tokens,
       ROUND(CAST(present + (n_tot - ct_present) * n_s AS DOUBLE)
             / (2.0 * CAST(n_s AS DOUBLE) * CAST(n_tot AS DOUBLE)), 9)
         AS tv_divergence
FROM per
""",
    # q133: identical distinct-(source,term) self-join on term with
    # the same source_a < source_b pairing and one final division.
    "q133_vocab_overlap": f"""
WITH v AS (
  SELECT DISTINCT source, term
  FROM (SELECT source, UNNEST({_TOKS}) AS term FROM documents)
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms
          FROM v GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       sa.n_terms AS n_a, sb.n_terms AS n_b, n_common,
       ROUND(CAST(n_common AS DOUBLE)
             / CAST(sa.n_terms + sb.n_terms - n_common AS DOUBLE), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.source = inter.source_a
JOIN sizes sb ON sb.source = inter.source_b
""",
    # q134: exact integer-microsecond interval weights × DECIMAL
    # values, same lead() spec, one final division — q104 convention.
    "q134_time_weighted_avg": """
WITH stepped AS (
  SELECT user_id,
         CAST(value AS DECIMAL(18,6)) AS v,
         epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dur_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(19,6))
                     * CAST(dur_us AS DECIMAL(19,0))) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE), 6) AS twa_value
FROM stepped WHERE dur_us IS NOT NULL
GROUP BY user_id
""",
    # q135: the melt written as its relational ground truth — one
    # UNION ALL branch per measure over the same wide agg.
    "q135_unpivot": f"""
WITH wide AS (
  SELECT l_returnflag,
         {_money('l_quantity')} AS sum_qty,
         {_money('l_extendedprice')} AS sum_price,
         {_money('l_discount')} AS sum_disc
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL
SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
""",
    # q136: identical distinct-basket self-join pairing, support cut,
    # and the one rational lift division; same top-20 tiebreaks.
    "q136_market_basket": """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
no AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
       FROM baskets),
pb AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_o
       FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
scored AS (
  SELECT brand_a, brand_b, n_both, pa.n_o AS n_a, pbb.n_o AS n_b,
         ROUND(CAST(n_both AS DOUBLE) * CAST(no.n_orders AS DOUBLE)
               / (CAST(pa.n_o AS DOUBLE) * CAST(pbb.n_o AS DOUBLE)), 6)
           AS lift
  FROM pairs
  JOIN pb pa ON pa.p_brand = brand_a
  JOIN pb pbb ON pbb.p_brand = brand_b
  CROSS JOIN no
),
r AS (
  SELECT *, row_number() OVER (ORDER BY lift DESC, brand_a, brand_b) AS rn
  FROM scored
)
SELECT brand_a, brand_b, n_both, n_a, n_b, lift, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 20
""",
    # q137: same lead() spec and exact-integer counts; one division.
    "q137_event_transitions": """
WITH trans AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM trans WHERE to_type IS NOT NULL GROUP BY 1, 2
),
outs AS (
  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_out
  FROM counts GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n_trans,
       ROUND(CAST(c.n_trans AS DOUBLE) / CAST(o.n_out AS DOUBLE), 6) AS share
FROM counts c JOIN outs o USING (from_type)
""",
    # q138: floor(log2) as exact integer bit length — length(bin(x))-1
    # agrees between engines for positive BIGINTs (no libm log2).
    "q138_interarrival_histogram": """
WITH stepped AS (
  SELECT event_type,
         epoch_us(lead(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts)
           AS dur_us
  FROM events
)
SELECT event_type,
       CAST(CASE WHEN dur_us <= 0 THEN -1
                 ELSE length(bin(dur_us)) - 1 END AS INT) AS log2_bucket,
       COUNT(*) AS n,
       MIN(dur_us) AS min_dur_us,
       MAX(dur_us) AS max_dur_us
FROM stepped WHERE dur_us IS NOT NULL
GROUP BY 1, 2
""",
    # q139: identical total order (value, event_id) and the same
    # rn/count division — rank normalization is exact integers until
    # the one division.
    "q139_quantile_transform": """
SELECT event_id, event_type, value,
       ROUND(CAST(row_number() OVER (
                PARTITION BY event_type ORDER BY value, event_id) AS DOUBLE)
             / CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE), 9)
         AS quantile
FROM events
""",
    # q140: the same month-index islands (m − row_number constant per
    # streak), integer decomposition via (m−1) div/mod 12, earliest
    # start breaking length ties.
    "q140_longest_streak": """
WITH months AS (
  SELECT DISTINCT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
  FROM orders
),
isl AS (
  SELECT o_custkey, m,
         m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
  FROM months
),
streaks AS (
  SELECT o_custkey, grp,
         CAST(COUNT(*) AS BIGINT) AS streak_months,
         MIN(m) AS start_m
  FROM isl GROUP BY 1, 2
),
best AS (
  SELECT *, row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY streak_months DESC, start_m ASC) AS rk
  FROM streaks
)
SELECT o_custkey, streak_months,
       CAST((start_m - 1) // 12 AS BIGINT) AS start_year,
       CAST((start_m - 1) % 12 + 1 AS INT) AS start_month
FROM best WHERE rk = 1
""",
    # q141: same interval pairing as q75; per-purchase credit is one
    # IEEE division clamped to DECIMAL(18,6) so per-user sums are
    # exact and order-free.
    "q141_linear_attribution": """
WITH clicks AS (
  SELECT user_id AS c_user, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts,
         value AS p_value
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT c.c_user, c.click_id, p.purchase_id, p.p_value
  FROM clicks c JOIN purchases p
    ON c.c_user = p.p_user
   AND p.p_ts >= c.c_ts
   AND p.p_ts <= c.c_ts + INTERVAL 10 MINUTES
),
credited AS (
  SELECT c_user, click_id,
         CAST(p_value / CAST(COUNT(*) OVER (PARTITION BY purchase_id)
                             AS DOUBLE) AS DECIMAL(18,6)) AS credit
  FROM touches
)
SELECT c_user AS user_id,
       CAST(COUNT(DISTINCT click_id) AS BIGINT) AS n_credited_clicks,
       ROUND(CAST(SUM(credit) AS DOUBLE), 4) AS linear_credit
FROM credited GROUP BY 1
""",
    # q142: ISO year/week (Spark YEAROFWEEK ≡ DuckDB isoyear,
    # weekofyear ISO on both); discrete percentiles per q124 rule.
    "q142_weekly_percentiles": """
SELECT CAST(isoyear(o_orderdate) AS INT) AS iso_year,
       CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
       COUNT(*) AS n_orders,
       quantile_disc(o_totalprice, 0.5) AS p50,
       quantile_disc(o_totalprice, 0.9) AS p90
FROM orders GROUP BY 1, 2
""",
    # q143: same explode-to-cover-days trick (each distinct user-day
    # covers days d..d+6), exact integer epoch days, inner join trims
    # no-DAU days identically.
    "q143_active_users": """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day_num
  FROM events
),
dau AS (SELECT day_num, CAST(COUNT(*) AS BIGINT) AS dau
        FROM ud GROUP BY 1),
covers AS (
  SELECT DISTINCT user_id, day_num + d AS day_num
  FROM ud, generate_series(0, 6) AS g(d)
),
wau AS (SELECT day_num, CAST(COUNT(*) AS BIGINT) AS wau
        FROM covers GROUP BY 1)
SELECT day_num, dau, wau,
       ROUND(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
FROM dau JOIN wau USING (day_num)
""",
    # q144: identical quantile_disc boundaries and the shared
    # strict-> scoring rule; the segment census is bounded at 4³.
    "q144_rfm_segmentation": """
WITH per AS (
  SELECT o_custkey,
         CAST(MAX(datediff('day', DATE '1970-01-01', o_orderdate))
              AS BIGINT) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY 1
),
b AS (
  SELECT quantile_disc(last_day, 0.25) AS ld25,
         quantile_disc(last_day, 0.50) AS ld50,
         quantile_disc(last_day, 0.75) AS ld75,
         quantile_disc(freq, 0.25) AS f25,
         quantile_disc(freq, 0.50) AS f50,
         quantile_disc(freq, 0.75) AS f75,
         quantile_disc(monetary, 0.25) AS m25,
         quantile_disc(monetary, 0.50) AS m50,
         quantile_disc(monetary, 0.75) AS m75
  FROM per
),
scored AS (
  SELECT CAST(1 + CASE WHEN last_day > ld25 THEN 1 ELSE 0 END
                + CASE WHEN last_day > ld50 THEN 1 ELSE 0 END
                + CASE WHEN last_day > ld75 THEN 1 ELSE 0 END AS INT)
           AS r_score,
         CAST(1 + CASE WHEN freq > f25 THEN 1 ELSE 0 END
                + CASE WHEN freq > f50 THEN 1 ELSE 0 END
                + CASE WHEN freq > f75 THEN 1 ELSE 0 END AS INT)
           AS f_score,
         CAST(1 + CASE WHEN monetary > m25 THEN 1 ELSE 0 END
                + CASE WHEN monetary > m50 THEN 1 ELSE 0 END
                + CASE WHEN monetary > m75 THEN 1 ELSE 0 END AS INT)
           AS m_score
  FROM per CROSS JOIN b
)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers
FROM scored GROUP BY 1, 2, 3
""",
    # q145: identical md5-band masking (both engines null the same
    # cells), completeness count, and survivorship sort.
    "q145_golden_record": """
WITH m AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CASE WHEN CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                          || '|status'), 1, 15) AS BIGINT) % 10 < 3
              THEN NULL ELSE o_orderstatus END AS status,
         CASE WHEN CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                          || '|price'), 1, 15) AS BIGINT) % 10 < 3
              THEN NULL ELSE o_totalprice END AS price,
         CASE WHEN CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                          || '|prio'), 1, 15) AS BIGINT) % 10 < 3
              THEN NULL ELSE o_orderpriority END AS priority
  FROM orders
),
c AS (
  SELECT *, CASE WHEN status IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN price IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN priority IS NOT NULL THEN 1 ELSE 0 END AS comp
  FROM m
),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY comp DESC, o_orderdate DESC, o_orderkey DESC) AS rk
  FROM c
)
SELECT o_custkey, o_orderkey AS golden_orderkey,
       CAST(comp AS INT) AS n_fields_present
FROM r WHERE rk = 1
""",
    # q146: per-cell chi² with the exact DECIMAL numerator
    # (o·N − r·c)² and the identical one-division expressions.
    "q146_chisq_contingency": """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
  FROM orders GROUP BY 1, 2
),
rm AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS r_tot
       FROM cells GROUP BY 1),
cm AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS c_tot
       FROM cells GROUP BY 1),
nt AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_tot FROM cells),
j AS (
  SELECT c.o_orderpriority, c.o_orderstatus, c.obs, rm.r_tot, cm.c_tot,
         nt.n_tot,
         CAST(c.obs AS DECIMAL(19,0)) * CAST(nt.n_tot AS DECIMAL(19,0))
         - CAST(rm.r_tot AS DECIMAL(19,0)) * CAST(cm.c_tot AS DECIMAL(19,0))
           AS num
  FROM cells c
  JOIN rm USING (o_orderpriority)
  JOIN cm USING (o_orderstatus)
  CROSS JOIN nt
)
SELECT o_orderpriority, o_orderstatus, obs,
       ROUND(CAST(r_tot * c_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 4)
         AS expected,
       ROUND(CAST(num * num AS DOUBLE)
             / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                * CAST(r_tot * c_tot AS DOUBLE)), 6) AS chi2_cell
FROM j
""",
    # q147: the q127 boundary-broadcast binning on per-customer spend;
    # decimal revenue sums, one share division per decile.
    "q147_pareto_deciles": """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
b AS (
  SELECT quantile_disc(rev, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
  FROM per
),
binned AS (
  SELECT p.rev,
         CAST(1 + len(list_filter(b.bs, x -> p.rev > x)) AS INT)
           AS spend_decile
  FROM per p CROSS JOIN b
),
tot AS (SELECT SUM(CAST(rev AS DECIMAL(18,2))) AS t FROM per)
SELECT spend_decile, COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS decile_revenue,
       ROUND(CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(tot.t AS DOUBLE), 6) AS revenue_share
FROM binned CROSS JOIN tot
GROUP BY spend_decile, tot.t
""",
    # q148: pure integer bucket audit — same DIV bucketing and
    # within-bucket expected-count arithmetic.
    "q148_id_continuity": """
WITH ids AS (SELECT DISTINCT o_orderkey FROM orders)
SELECT o_orderkey // 1000 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_present,
       MIN(o_orderkey) AS lo,
       MAX(o_orderkey) AS hi,
       CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1 - COUNT(*) AS BIGINT)
         AS n_missing_within
FROM ids GROUP BY 1
""",
    # q149: identical composite-key self-join with the ±1-hour
    # residual band and id_a < id_b pair canonicalization.
    "q149_double_fire": """
WITH e AS (
  SELECT user_id AS u, event_type AS t, value AS v, event_id,
         epoch_us(ts) AS ts_us
  FROM events
),
pairs AS (
  SELECT a.u, a.t, ABS(b.ts_us - a.ts_us) AS gap_us
  FROM e a JOIN e b
    ON a.u = b.u AND a.t = b.t
   AND a.event_id < b.event_id
   AND ABS(b.ts_us - a.ts_us) <= 3600000000
   AND ABS(b.v - a.v) < 5.0
)
SELECT t AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_suspect_pairs,
       CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
       MIN(gap_us) AS min_gap_us
FROM pairs GROUP BY 1
""",
    # q150: same within-word adjacent char-pair extraction (1-based
    # 2-char substrings) and (count desc, pair) top-20 tiebreak.
    "q150_bpe_merge_candidates": f"""
WITH w AS (
  SELECT UNNEST({_TOKS}) AS w FROM documents
),
p AS (
  SELECT UNNEST([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair
  FROM w WHERE len(w) >= 2
),
c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1)
SELECT pair, n,
       CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS BIGINT) AS rn
FROM c QUALIFY rn <= 20
""",
    # q151: identical integer bin arithmetic ((len-1)//32+1) and the
    # padded-total scalar; one share division per bin.
    "q151_padding_waste": f"""
WITH lens AS (
  SELECT len({_TOKS}) AS l FROM documents
),
binned AS (
  SELECT l, (l - 1) // 32 + 1 AS b FROM lens WHERE l >= 1
),
per_bin AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(l) AS BIGINT) AS sum_tokens,
         CAST(SUM(b * 32 - l) AS BIGINT) AS wasted_tokens
  FROM binned GROUP BY 1
),
tot AS (SELECT CAST(SUM(b * 32 * n_docs) AS BIGINT) AS padded
        FROM per_bin)
SELECT CAST(b * 32 AS BIGINT) AS bin_top, n_docs, sum_tokens,
       wasted_tokens,
       ROUND(CAST(wasted_tokens AS DOUBLE) / CAST(padded AS DOUBLE), 6)
         AS waste_share_of_corpus
FROM per_bin CROSS JOIN tot
""",
    # q152: same count-then-rank mode with the (n desc, type asc)
    # deterministic tiebreak.
    "q152_grouped_mode": """
WITH c AS (
  SELECT p_brand, p_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY p_brand ORDER BY n DESC, p_type ASC) AS rk
  FROM c
)
SELECT p_brand, p_type AS mode_type, n AS n_mode FROM r WHERE rk = 1
""",
    # q153: identical exact-decimal charge accumulation and drift
    # comparison — the 1-cent verdicts can't flip on add order.
    "q153_order_reconciliation": f"""
WITH per_order AS (
  SELECT l_orderkey, SUM({_CHARGE}) AS line_total
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_orderstatus,
         ABS(CAST(o.o_totalprice AS DECIMAL(18,2))
             - COALESCE(p.line_total, CAST(0 AS DECIMAL(18,2)))) AS drift
  FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.l_orderkey
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN drift > CAST(0.01 AS DECIMAL(18,2))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       ROUND(CAST(MAX(drift) AS DOUBLE), 2) AS max_abs_drift
FROM j GROUP BY 1
""",
    # q154: the identical integer micro-unit clamp (IEEE multiply +
    # floor of the widened float), exact sums/squares, per-label
    # divisions at the end — no float→decimal cast, no libm sqrt.
    "q154_label_centroids": """
WITH comp AS (
  SELECT label, e.c.d AS dim,
         CAST(FLOOR(CAST(e.c.v AS DOUBLE) * 1000000.0) AS BIGINT) AS vu
  FROM (
    SELECT label,
           UNNEST([{'d': i - 1, 'v': embedding[i]}
                   FOR i IN range(1, len(embedding) + 1)]) AS c
    FROM embeddings
  ) e
),
per_dim AS (
  SELECT label, dim, COUNT(*) AS n,
         CAST(SUM(vu) AS BIGINT) AS s
  FROM comp GROUP BY 1, 2
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vectors,
       ROUND(CAST(SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
                  AS DOUBLE)
             / (CAST(MAX(n) * MAX(n) AS DOUBLE) * 1e12), 9)
         AS centroid_sq_norm,
       ROUND(CAST(MAX(ABS(s)) AS DOUBLE)
             / (CAST(MAX(n) AS DOUBLE) * 1e6), 9) AS max_abs_component
FROM per_dim GROUP BY label
""",
    # q155: same micro-unit sums; radius from E|v|² − |centroid|²,
    # separation from exact Σ S² cross products — identical IEEE
    # expression shapes, one division chain per output.
    "q155_cluster_tightness": """
WITH comp AS (
  SELECT label, e.c.d AS dim,
         CAST(FLOOR(CAST(e.c.v AS DOUBLE) * 1000000.0) AS BIGINT) AS vu
  FROM (
    SELECT label,
           UNNEST([{'d': i - 1, 'v': embedding[i]}
                   FOR i IN range(1, len(embedding) + 1)]) AS c
    FROM embeddings
  ) e
),
per_dim AS (
  SELECT label, dim, COUNT(*) AS n, CAST(SUM(vu) AS BIGINT) AS s
  FROM comp GROUP BY 1, 2
),
sumsq AS (
  SELECT label,
         SUM(CAST(vu AS DECIMAL(19,0)) * CAST(vu AS DECIMAL(19,0))) AS vv
  FROM comp GROUP BY 1
),
cent AS (
  SELECT label, CAST(MAX(n) AS BIGINT) AS n_vectors,
         SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS ss
  FROM per_dim GROUP BY 1
),
crossed AS (
  SELECT a.label AS la, b.label AS lb, MAX(a.n) AS na, MAX(b.n) AS nb,
         SUM(CAST(a.s AS DECIMAL(19,0)) * CAST(a.s AS DECIMAL(19,0))) AS aa,
         SUM(CAST(a.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0))) AS ab,
         SUM(CAST(b.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0))) AS bb
  FROM per_dim a JOIN per_dim b ON a.dim = b.dim AND a.label <> b.label
  GROUP BY 1, 2
),
d2 AS (
  SELECT la,
         CAST(aa AS DOUBLE) / CAST(na * na AS DOUBLE)
         - 2.0 * CAST(ab AS DOUBLE) / CAST(na * nb AS DOUBLE)
         + CAST(bb AS DOUBLE) / CAST(nb * nb AS DOUBLE) AS d2
  FROM crossed
),
near AS (SELECT la AS label, MIN(d2) AS min_d2 FROM d2 GROUP BY 1)
SELECT c.label, c.n_vectors,
       ROUND((CAST(q.vv AS DOUBLE) / CAST(c.n_vectors AS DOUBLE)
              - CAST(c.ss AS DOUBLE)
                / CAST(c.n_vectors * c.n_vectors AS DOUBLE)) / 1e12, 9)
         AS mean_sq_radius,
       ROUND(n.min_d2 / 1e12, 9) AS nearest_centroid_sq_dist
FROM cent c JOIN sumsq q USING (label) JOIN near n USING (label)
""",
    # q156: set-op CARDINALITIES (result order is engine-specific,
    # sizes are not) against the same literal probe vocabulary.
    "q156_array_setops": f"""
WITH t AS (
  SELECT source, list_distinct({_TOKS}) AS tk FROM documents
),
p AS (
  SELECT source,
         len(list_intersect(tk, ['the','a','table','spark','zzz']))
           AS n_hit,
         len(list_filter(tk,
             x -> NOT list_contains(['the','a','table','spark','zzz'], x)))
           AS n_rest,
         len(list_distinct(list_concat(tk,
             ['the','a','table','spark','zzz']))) AS n_union
  FROM t
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_hit) AS BIGINT) AS sum_hits,
       CAST(SUM(n_rest) AS BIGINT) AS sum_rest,
       CAST(SUM(n_union) AS BIGINT) AS sum_union,
       CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlapping
FROM p GROUP BY 1
""",
    # q157: same per-status bit assignment; bit_or merges, bit_count
    # reads cardinality; audited against exact count distinct.
    "q157_bitmap_distinct": """
WITH per AS (
  SELECT o_custkey,
         CAST(bit_or(CASE o_orderstatus WHEN 'O' THEN 1
                     WHEN 'F' THEN 2 ELSE 4 END) AS BIGINT)
           AS status_bitmap,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_exact
  FROM orders GROUP BY 1
)
SELECT o_custkey, status_bitmap,
       CAST(bit_count(status_bitmap) AS INT) AS n_from_bitmap,
       n_exact,
       bit_count(status_bitmap) = n_exact AS bitmap_agrees
FROM per
""",
    # q158: identical 30-min lag-cumsum sessions, first-3-step path
    # joined with '>', (count desc, path) top-10.
    "q158_session_paths": """
WITH g AS (
  SELECT user_id, event_id, event_type, ts,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
),
st AS (
  SELECT *, row_number() OVER (
           PARTITION BY user_id, sess ORDER BY ts, event_id) AS step
  FROM s
),
paths AS (
  SELECT user_id, sess,
         string_agg(event_type, '>' ORDER BY step) AS path
  FROM st WHERE step <= 3 GROUP BY 1, 2
),
c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM paths GROUP BY 1)
SELECT path, n_sessions,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC)
            AS BIGINT) AS rn
FROM c QUALIFY rn <= 10
""",
    # q159: same as-of pairing (nearest preceding click within 1h)
    # and discrete percentiles on exact integer micros.
    "q159_conversion_latency": """
WITH clicks AS (
  SELECT user_id AS u, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id AS u, event_id AS pid, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
),
nearest AS (
  SELECT p.u, p.pid, p.p_us, MAX(c.c_us) AS c_us
  FROM purchases p JOIN clicks c
    ON p.u = c.u AND c.c_us <= p.p_us
   AND p.p_us - c.c_us <= 3600000000
  GROUP BY 1, 2, 3
),
lat AS (SELECT p_us - c_us AS latency_us FROM nearest)
SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
       MIN(latency_us) AS min_us,
       quantile_disc(latency_us, 0.5) AS p50_us,
       quantile_disc(latency_us, 0.9) AS p90_us,
       MAX(latency_us) AS max_us
FROM lat
""",
    # q160: value-bounded RANGE frame over integer micros — tie
    # order inside the frame is irrelevant by construction.
    "q160_trailing_window_count": """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS BIGINT) AS n_trailing_1h
FROM events
""",
    # q161: identical left fold — list ordered by (ts, event_id),
    # seeded with the first element (both engines' fold semantics),
    # accumulator-first lambda with the same IEEE expression.
    "q161_ewma": """
WITH l AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY 1
)
SELECT user_id, n_events,
       ROUND(list_reduce(vs, (acc, v) -> v * 0.25 + acc * 0.75), 6)
         AS ewma_value
FROM l
""",
    # q162: same FULL OUTER id pairing and audit counts/shares.
    "q162_coverage_audit": """
WITH j AS (
  SELECT d.doc_id AS dd, e.vec_id AS vv
  FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
)
SELECT CAST(SUM(CASE WHEN dd IS NOT NULL AND vv IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN vv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_text_only,
       CAST(SUM(CASE WHEN dd IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_vector_only,
       ROUND(CAST(SUM(CASE WHEN dd IS NOT NULL AND vv IS NOT NULL
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN dd IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE), 6) AS text_coverage
FROM j
""",
    # q163: same md5 content hash, min-doc_id keep rule, and exact
    # integer token accounting; one final savings division.
    "q163_dedup_savings": f"""
WITH h AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hh,
         CAST(len({_TOKS}) AS BIGINT) AS ntok
  FROM documents
),
keep AS (SELECT hh, MIN(doc_id) AS keep_id FROM h GROUP BY 1),
m AS (
  SELECT h.source, h.ntok,
         CASE WHEN h.doc_id = k.keep_id THEN 1 ELSE 0 END AS kept
  FROM h JOIN keep k USING (hh)
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(ntok) AS BIGINT) AS tokens_before,
       CAST(SUM(ntok * kept) AS BIGINT) AS tokens_after,
       ROUND(1.0 - CAST(SUM(ntok * kept) AS DOUBLE)
                   / CAST(SUM(ntok) AS DOUBLE), 6) AS token_savings
FROM m GROUP BY 1
""",
    # q164: same exact-decimal revenue per nation; the parent total
    # is a window SUM over the bounded nation table; one division.
    "q164_share_of_region": f"""
WITH rev AS (
  SELECT r_name, n_name, SUM({_DISC_PRICE}) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name,
       ROUND(CAST(rev AS DOUBLE), 2) AS nation_revenue,
       ROUND(CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE), 6)
         AS share_of_region
FROM rev
""",
    # q165: md5 of the space-joined first-8-token prefix; ≥2 cut.
    "q165_prefix_collisions": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
per AS (
  SELECT doc_id,
         {_md5_int("array_to_string(tk[1:8], ' ')")} AS p
  FROM t
)
SELECT p AS prefix_sig, COUNT(*) AS n_docs,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM per GROUP BY 1 HAVING COUNT(*) >= 2
""",
    # q166: recompute every interleaved PCM16 sample from the
    # generative closed form (sample j of media_id =
    # (id*31 + j) % 65536 - 32768, channel = j % 2) and aggregate the
    # same all-integer stats the Spark codec computes from the DECODED
    # wire bytes — byte-exact check of encode → frombuffer → stats.
    "q166_audio_channel_stats": """
WITH js AS (SELECT j FROM generate_series(0, 799) t(j)),
s AS (
  SELECT d.doc_id AS media_id,
         CAST(j % 2 AS INT) AS channel,
         ((d.doc_id * 31 + j) % 65536) - 32768 AS v
  FROM documents d CROSS JOIN js
)
SELECT media_id, channel,
       COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(MIN(v) AS INT) AS min_amp,
       CAST(MAX(v) AS INT) AS max_amp,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM s GROUP BY 1, 2
""",
    # q167: mono sample s = floor((v(2s) + v(2s+1)) / 2) — floor (not
    # truncate) division to match numpy floor_divide on negatives.
    "q167_audio_downmix": """
WITH ss AS (SELECT s FROM generate_series(0, 399) t(s)),
m AS (
  SELECT d.doc_id AS media_id,
         CAST(FLOOR((
           (((d.doc_id * 31 + 2 * s) % 65536) - 32768) +
           (((d.doc_id * 31 + 2 * s + 1) % 65536) - 32768)
         ) / 2.0) AS BIGINT) AS v
  FROM documents d CROSS JOIN ss
)
SELECT media_id, CAST(0 AS INT) AS channel,
       COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(MIN(v) AS INT) AS min_amp,
       CAST(MAX(v) AS INT) AS max_amp,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM m GROUP BY 1, 2
""",
    # q168: the observe() contract — recompute the observed aggregates
    # directly and pin the matches-direct boolean TRUE (q19's bounded-
    # contract pattern for an engine-specific surface).
    "q168_observe_metrics": """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_keys,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       TRUE AS observed_matches_direct
FROM events
""",
    # q169: merged streaming top-k state must equal the one-shot
    # batch top-20 (count desc, token asc total order).
    "q169_streaming_topk": f"""
WITH t AS (SELECT unnest({_TOKS}) AS token FROM documents)
SELECT token, COUNT(*) AS cnt FROM t
GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT 20
""",
}

# q170: stream-state moments ≡ one-shot batch zscore audit — the
# oracle IS q104's SQL (identical output is the parity contract).
ORACLES["q170_streaming_moments"] = ORACLES["q104_anomaly_zscore"]

# q171: imperative UDTF chunker ≡ q125's pure-expression chunker —
# the oracle IS q125's SQL.
ORACLES["q171_udtf_chunking"] = ORACLES["q125_doc_chunking"]

# q172: the pandas UDAF's trimmed mean, reproduced as drop-k-each-end
# by rank in window SQL; NULLs (every 7th event) drop BEFORE the trim
# — SQL aggregate discipline, the r2 ADVICE fix under driver contract.
ORACLES["q172_udaf_trimmed_mean"] = """
WITH seeded AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(value AS DOUBLE) END AS v
  FROM events
),
nn AS (SELECT event_type, v FROM seeded WHERE v IS NOT NULL),
r AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM nn
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_values,
       ROUND(AVG(v) FILTER (WHERE n <= 2 * CAST(FLOOR(n * 0.1) AS INT)
                               OR (rn > CAST(FLOOR(n * 0.1) AS INT)
                                   AND rn <= n - CAST(FLOOR(n * 0.1) AS INT))), 6)
         AS trimmed_mean
FROM r GROUP BY event_type
"""


# q173: the q21 oracle's signature/candidate CTEs, extended with the
# integer micro-unit estimate-vs-exact comparison (matches*62500 vs
# common*1e6 // union — both engines integer-exact).
ORACLES["q173_minhash_estimation_audit"] = f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, {_md5_int('unnest(sh)')} AS h FROM sh),
sig AS (SELECT doc_id, {', '.join(f'MIN(((h >> 30) + {p} * (h & 1073741823)) % 2147483647) AS mh{p}' for p in range(16))}
        FROM ex GROUP BY doc_id),
banded AS (
  SELECT doc_id, b.band,
         CASE b.band {' '.join('WHEN ' + str(b) + ' THEN concat_ws(' + chr(39) + ',' + chr(39) + ', ' + ', '.join(f'mh{b*4+r}' for r in range(4)) + ')' for b in range(4))} END AS bsig
  FROM sig, (VALUES (0),(1),(2),(3)) AS b(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
est AS (
  SELECT id_a, id_b,
         CAST(({' + '.join(f'CASE WHEN x.mh{p} = y.mh{p} THEN 1 ELSE 0 END' for p in range(16))}) * 62500 AS BIGINT) AS est_jaccard_micro
  FROM cand JOIN sig x ON x.doc_id = id_a JOIN sig y ON y.doc_id = id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard_micro,
       CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000000
         // (CAST(len(x.sh) AS BIGINT) + CAST(len(y.sh) AS BIGINT)
             - CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT))
         AS exact_jaccard_micro,
       ABS(e.est_jaccard_micro
           - CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000000
             // (CAST(len(x.sh) AS BIGINT) + CAST(len(y.sh) AS BIGINT)
                 - CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT)))
         AS abs_err_micro
FROM est e JOIN sh x ON x.doc_id = e.id_a JOIN sh y ON y.doc_id = e.id_b
"""

# q174: re-derive the snapshot change classes from the mutation rules
# — %10==0 deleted, else %5==0 updated (source retag changes the
# fingerprint), max+id inserted for %7==0. Note 70 ≡ 0 (mod 10): an id
# divisible by 10 is deleted even when also divisible by 5 or 7 — the
# source rows for inserts keep their ORIGINAL id's %7 test.
ORACLES["q174_snapshot_diff"] = """
WITH span AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
deleted AS (
  SELECT doc_id, 'deleted' AS change FROM documents WHERE doc_id % 10 = 0
),
updated AS (
  SELECT doc_id, 'updated' AS change FROM documents
  WHERE doc_id % 10 <> 0 AND doc_id % 5 = 0
),
inserted AS (
  SELECT d.doc_id + span.s AS doc_id, 'inserted' AS change
  FROM documents d, span WHERE d.doc_id % 7 = 0
)
SELECT * FROM deleted UNION ALL SELECT * FROM updated
UNION ALL SELECT * FROM inserted
"""

# q175: the oracle uses the DEFINITION — a customer is on the frontier
# iff no other strictly dominates (better on one dim, >= on the other)
# — deliberately a different formulation than the engine's linear
# window sweep, so the sweep's equivalence to the definition is what
# gets checked.
ORACLES["q175_pareto_frontier"] = """
WITH per AS (
  SELECT o_custkey, MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT p.o_custkey, p.spend, p.n_orders
FROM per p
WHERE NOT EXISTS (
  SELECT 1 FROM per q
  WHERE (q.spend >= p.spend AND q.n_orders > p.n_orders)
     OR (q.spend > p.spend AND q.n_orders >= p.n_orders)
)
"""

# q176: same smallest-v-reaching-half-total rule, window SQL.
ORACLES["q176_weighted_median"] = """
WITH wtd AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v,
         CAST(event_id % 5 + 1 AS BIGINT) AS w
  FROM events WHERE value IS NOT NULL
),
cum AS (
  SELECT event_type, v,
         SUM(w) OVER (PARTITION BY event_type ORDER BY v, w
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         SUM(w) OVER (PARTITION BY event_type) AS t
  FROM wtd
)
SELECT event_type, MIN(v) AS weighted_median,
       CAST(MAX(t) AS BIGINT) AS total_weight
FROM cum WHERE 2 * c >= t GROUP BY event_type
"""

# q177: identical integer micro-unit pipeline in DuckDB list
# comprehensions; |v| is quantized then re-signed because DuckDB's //
# floors while Spark's DIV truncates (they agree on magnitudes).
ORACLES["q177_int8_quantization_audit"] = """
WITH vm AS (
  SELECT vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
          FOR x IN embedding] AS v
  FROM embeddings
),
m AS (
  SELECT vec_id, v,
         list_max([abs(x) FOR x IN v]) AS max_abs_micro
  FROM vm
),
q AS (
  SELECT vec_id, v, max_abs_micro,
         [CASE WHEN max_abs_micro = 0 THEN 0
               ELSE CAST(sign(x) AS BIGINT) * ((abs(x) * 127) // max_abs_micro)
          END FOR x IN v] AS qc
  FROM m
),
d AS (
  SELECT vec_id, v, max_abs_micro, qc,
         [CASE WHEN max_abs_micro = 0 THEN 0
               ELSE CAST(sign(c) AS BIGINT) * ((abs(c) * max_abs_micro) // 127)
          END FOR c IN qc] AS deq
  FROM q
)
SELECT vec_id, max_abs_micro,
       CAST(list_sum([abs(v[i] - deq[i]) FOR i IN range(1, len(v) + 1)])
            AS BIGINT) AS sum_abs_err_micro,
       CAST(list_max([abs(v[i] - deq[i]) FOR i IN range(1, len(v) + 1)])
            AS BIGINT) AS max_err_micro,
       CAST(list_sum(qc) AS BIGINT) AS code_sum
FROM d
"""


# q178: the SAME 3 integer-micro-unit PageRank rounds, unrolled —
# every DIV floor reproduced, so ranks match bit-for-bit.
ORACLES["q178_pagerank"] = """
WITH e0 AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
e AS (SELECT src, dst, COUNT(*) AS w FROM e0 WHERE dst IS NOT NULL GROUP BY 1, 2),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  )
),
params AS (
  SELECT COUNT(*) AS n,
         (CAST(1000000 - 850000 AS BIGINT) * 1000000) // COUNT(*) // 1000000 AS base
  FROM nodes
),
outs AS (SELECT src, SUM(w) AS w_out FROM e GROUP BY 1),
s0 AS (
  SELECT node, CAST(1000000 // (SELECT n FROM params) AS BIGINT) AS r
  FROM nodes
),
c1 AS (
  SELECT e.dst AS node, SUM((CAST(s0.r AS BIGINT) * e.w) // o.w_out) AS cs
  FROM e JOIN s0 ON s0.node = e.src JOIN outs o ON o.src = e.src
  GROUP BY 1
),
s1 AS (
  SELECT n.node,
         CAST((SELECT base FROM params)
              + (CAST(850000 AS BIGINT) * COALESCE(c1.cs, 0)) // 1000000 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c1 USING (node)
),c2 AS (
  SELECT e.dst AS node, SUM((s1.r * e.w) // o.w_out) AS cs
  FROM e JOIN s1 ON s1.node = e.src JOIN outs o ON o.src = e.src
  GROUP BY 1
),
s2 AS (
  SELECT n.node,
         CAST((SELECT base FROM params)
              + (CAST(850000 AS BIGINT) * COALESCE(c2.cs, 0)) // 1000000 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c2 USING (node)
),c3 AS (
  SELECT e.dst AS node, SUM((s2.r * e.w) // o.w_out) AS cs
  FROM e JOIN s2 ON s2.node = e.src JOIN outs o ON o.src = e.src
  GROUP BY 1
),
s3 AS (
  SELECT n.node,
         CAST((SELECT base FROM params)
              + (CAST(850000 AS BIGINT) * COALESCE(c3.cs, 0)) // 1000000 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c3 USING (node)
)
SELECT node AS event_type, r AS rank_micro FROM s3
"""


# q179: every rule's violation count recomputed from its definition.
# DuckDB regexp_matches is RE2 but the clerk pattern is regex-dialect
# neutral (anchors, literal, digit class).
ORACLES["q179_expectations_audit"] = """
WITH n AS (SELECT COUNT(*) AS n_checked FROM orders)
SELECT 'custkey_not_null' AS rule, n.n_checked,
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS n_violations,
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) = 0 AS passed
FROM n
UNION ALL
SELECT 'price_band', n.n_checked,
       (SELECT COUNT(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND NOT (o_totalprice BETWEEN 1000 AND 300000)),
       (SELECT COUNT(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND NOT (o_totalprice BETWEEN 1000 AND 300000)) = 0
FROM n
UNION ALL
SELECT 'status_domain', n.n_checked,
       (SELECT COUNT(*) FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F', 'O')),
       (SELECT COUNT(*) FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F', 'O')) = 0
FROM n
UNION ALL
SELECT 'priority_format', n.n_checked,
       (SELECT COUNT(*) FROM orders
        WHERE o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')),
       (SELECT COUNT(*) FROM orders
        WHERE o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')) = 0
FROM n
UNION ALL
SELECT 'pk_unique', n.n_checked,
       (SELECT COALESCE(SUM(c - 1), 0) FROM
         (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) t
        WHERE c > 1),
       (SELECT COALESCE(SUM(c - 1), 0) FROM
         (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) t
        WHERE c > 1) = 0
FROM n
UNION ALL
SELECT 'cust_fk', n.n_checked,
       (SELECT COUNT(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)),
       (SELECT COUNT(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) = 0
FROM n
"""


# q180: stream-state SCD2 history == one-shot batch scd2_history —
# the oracle IS q99's SQL (identical output is the parity contract).
ORACLES["q180_streaming_scd2"] = ORACLES["q99_scd2_history"]


# q181: compacted stream-rollup state == one-shot tumbling window —
# the oracle IS q15's SQL (identical output is the parity contract).
ORACLES["q181_continuous_rollup"] = ORACLES["q15_tumbling_window"]


# q182: cross-snapshot drift gate — the oracle re-derives v0/v1 from
# the mutation rules (delete %10, re-insert %7 shifted by span, NULL
# lang on %4 of the FINAL ids) and reproduces the exact-HUGEINT ppm
# arithmetic: |cross products| * 1e6 with one integral division, so
# drift_ppm and every verdict match bit-for-bit.
ORACLES["q182_snapshot_drift_gate"] = """
WITH v0 AS (SELECT doc_id, source, lang FROM documents),
span AS (SELECT MAX(doc_id) + 1 AS s FROM v0),
v1 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 4 = 0 THEN NULL ELSE lang END AS lang
  FROM (
    SELECT doc_id, source, lang FROM v0 WHERE doc_id % 10 <> 0
    UNION ALL
    SELECT doc_id + (SELECT s FROM span), source, lang
    FROM v0 WHERE doc_id % 7 = 0
  )
),
mb AS (SELECT COUNT(*) AS n_b,
              SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nul_b,
              COUNT(DISTINCT source) AS dst_b FROM v0),
mc AS (SELECT COUNT(*) AS n_c,
              SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nul_c,
              COUNT(DISTINCT source) AS dst_c FROM v1)
SELECT 'rows_vs_v0' AS rule,
       n_b AS base_value, n_c AS cur_value,
       CAST(abs(CAST(n_c AS HUGEINT) - n_b) * 1000000 // n_b AS BIGINT) AS drift_ppm,
       abs(CAST(n_c AS HUGEINT) - n_b) * 1000000 <= CAST(100000 AS HUGEINT) * n_b AS passed
FROM mb, mc
UNION ALL
SELECT 'lang_nulls_vs_v0',
       CAST(CAST(nul_b AS HUGEINT) * 1000000 // n_b AS BIGINT),
       CAST(CAST(nul_c AS HUGEINT) * 1000000 // n_c AS BIGINT),
       CAST(abs(CAST(nul_c AS HUGEINT) * n_b - CAST(nul_b AS HUGEINT) * n_c) * 1000000
            // (CAST(n_b AS HUGEINT) * n_c) AS BIGINT),
       abs(CAST(nul_c AS HUGEINT) * n_b - CAST(nul_b AS HUGEINT) * n_c) * 1000000
         <= CAST(10000 AS HUGEINT) * (CAST(n_b AS HUGEINT) * n_c)
FROM mb, mc
UNION ALL
SELECT 'source_domain_vs_v0',
       dst_b, dst_c,
       CAST(abs(CAST(dst_c AS HUGEINT) - dst_b) * 1000000 // dst_b AS BIGINT),
       abs(CAST(dst_c AS HUGEINT) - dst_b) * 1000000 <= CAST(0 AS HUGEINT) * dst_b
FROM mb, mc
"""


# q183: recompute the PNG codec's decoded pixels from the generative
# closed form (raster byte k of media_id = (id*31 + k) % 256, channel
# = k % 3) — the encode (Paeth + DEFLATE) → decode (inflate +
# unfilter) pipeline must reproduce every raster byte exactly for the
# stats to hash-match.
ORACLES["q183_png_codec"] = """
WITH ks AS (SELECT k FROM generate_series(0, 575) t(k)),
s AS (
  SELECT d.doc_id AS media_id,
         CAST(k % 3 AS INT) AS channel,
         (d.doc_id * 31 + k) % 256 AS v
  FROM documents d CROSS JOIN ks
)
SELECT media_id, channel,
       COUNT(*) AS n_pixels,
       CAST(SUM(v) AS BIGINT) AS sum_val,
       CAST(MIN(v) AS INT) AS min_val,
       CAST(MAX(v) AS INT) AS max_val
FROM s GROUP BY 1, 2
"""


# q184: WAV-container decode must reproduce exactly the raw-PCM16
# samples — the oracle IS q166's closed-form SQL (identical stats is
# the container-round-trip contract).
ORACLES["q184_wav_container"] = ORACLES["q166_audio_channel_stats"]


# q185: SemDeDup drop verdicts from the EXISTS definition — vector i
# is dropped iff a smaller-id vector in the same label cell has
# round(cos, 6) >= 0.4 with it.
ORACLES["q185_semantic_dedup"] = f"""
WITH drops AS (
  SELECT DISTINCT b.vec_id AS id
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND({_cos('a.embedding', 'b.embedding')}, 6) >= 0.4
)
SELECT e.vec_id AS id, e.label AS cell, (d.id IS NOT NULL) AS dropped
FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.id
"""


# q186: vacuum audit recomputed from the version recipe — v2 keeps
# doc_id % 4 != 0, v3 keeps doc_id % 5 != 0.
ORACLES["q186_snapshot_vacuum"] = """
SELECT CAST(4 AS INT) AS n_before,
       CAST(2 AS INT) AS n_after,
       CAST(2 AS INT) AS oldest_kept,
       CAST(3 AS INT) AS latest,
       CAST(2 AS INT) AS n_expired,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 4 <> 0) AS rows_v2,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 5 <> 0) AS rows_v3
"""


# q187: JPEG is lossy — the oracle pins the round-trip CONTRACT
# (exact dims + the per-image mean-abs-error bound TRUE), q19's
# bounded-error design applied to a codec.
ORACLES["q187_jpeg_roundtrip"] = """
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       TRUE AS err_ok
FROM documents WHERE doc_id % 5 = 0
"""


# q188: the 4:2:0 + restart-interval twin of q187 on a disjoint fifth
# of the corpus — dims exact, per-image mean-abs-error bound TRUE.
ORACLES["q188_jpeg_subsampled"] = """
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       TRUE AS err_ok
FROM documents WHERE doc_id % 5 = 1
"""


# q189: wild-profile PNG round trips are LOSSLESS, so every decoded
# byte is recomputed from the generative closed forms — gray /
# gray+alpha / RGBA rasters are byte k = (id*31 + k) % 256 over
# h*w*channels bytes; the palette profile stores index (id*31+p)%64
# per pixel and decodes through pal[j] = ((j*5+1)%256, (j*11+3)%256,
# (j*23+7)%256). One byte of codec drift fails the value hash.
ORACLES["q189_png_profiles"] = """
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 2),
direct AS (
  SELECT d.doc_id AS media_id, p.profile, p.channels,
         (d.doc_id * 31 + t.k) % 256 AS v
  FROM docs d
  CROSS JOIN (VALUES ('gray', 1), ('gray_alpha', 2), ('rgba', 4),
              ('adam7', 3))
       p(profile, channels)
  CROSS JOIN generate_series(0, 767) t(k)
  WHERE t.k < 192 * p.channels
),
palette AS (
  SELECT d.doc_id AS media_id, 'palette' AS profile, 3 AS channels,
         CASE c
           WHEN 0 THEN (((d.doc_id * 31 + p) % 64) * 5 + 1) % 256
           WHEN 1 THEN (((d.doc_id * 31 + p) % 64) * 11 + 3) % 256
           ELSE (((d.doc_id * 31 + p) % 64) * 23 + 7) % 256
         END AS v
  FROM docs d
  CROSS JOIN generate_series(0, 191) tp(p)
  CROSS JOIN generate_series(0, 2) tc(c)
),
s AS (SELECT * FROM direct UNION ALL SELECT * FROM palette)
SELECT media_id, profile, CAST(channels AS INT) AS channels,
       COUNT(*) AS n_vals,
       CAST(SUM(v) AS BIGINT) AS sum_val,
       CAST(MIN(v) AS INT) AS min_val,
       CAST(MAX(v) AS INT) AS max_val
FROM s GROUP BY 1, 2, 3
"""


# q190: TVD drift gate re-derived from the mutation recipe — v1 drops
# every third 'en' doc and bumps n_chars by 500 on even doc_ids. Each
# rule's TVD numerator is the exact HUGEINT cross-product sum
# Σ_b |cnt_b_cur·n_b − cnt_b_base·n_c| · 1e6 over 2·n_b·n_c, floored
# by // to match Spark's DECIMAL DIV.
ORACLES["q190_tvd_drift_gate"] = """
WITH v0 AS (SELECT lang, n_chars FROM documents),
v1 AS (
  SELECT lang,
         CASE WHEN doc_id % 2 = 0 THEN n_chars + 500 ELSE n_chars END
           AS n_chars
  FROM documents
  WHERE lang IS NULL OR NOT (lang = 'en' AND doc_id % 3 = 0)
),
b AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS l0,
         SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS l1,
         SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS l2,
         SUM(CASE WHEN lang IS NOT NULL
                   AND lang NOT IN ('en', 'es', 'zh') THEN 1 ELSE 0 END) AS l3,
         SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS l4,
         SUM(CASE WHEN n_chars IS NOT NULL AND n_chars < 200 THEN 1 ELSE 0 END) AS h0,
         SUM(CASE WHEN n_chars >= 200 AND n_chars < 350 THEN 1 ELSE 0 END) AS h1,
         SUM(CASE WHEN n_chars >= 350 AND n_chars < 500 THEN 1 ELSE 0 END) AS h2,
         SUM(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS h3,
         SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS h4
  FROM v0
),
c AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS l0,
         SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS l1,
         SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS l2,
         SUM(CASE WHEN lang IS NOT NULL
                   AND lang NOT IN ('en', 'es', 'zh') THEN 1 ELSE 0 END) AS l3,
         SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS l4,
         SUM(CASE WHEN n_chars IS NOT NULL AND n_chars < 200 THEN 1 ELSE 0 END) AS h0,
         SUM(CASE WHEN n_chars >= 200 AND n_chars < 350 THEN 1 ELSE 0 END) AS h1,
         SUM(CASE WHEN n_chars >= 350 AND n_chars < 500 THEN 1 ELSE 0 END) AS h2,
         SUM(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS h3,
         SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS h4
  FROM v1
),
nums AS (
  SELECT b.n AS n_b, c.n AS n_c,
         (abs(CAST(c.l0 AS HUGEINT) * b.n - CAST(b.l0 AS HUGEINT) * c.n)
        + abs(CAST(c.l1 AS HUGEINT) * b.n - CAST(b.l1 AS HUGEINT) * c.n)
        + abs(CAST(c.l2 AS HUGEINT) * b.n - CAST(b.l2 AS HUGEINT) * c.n)
        + abs(CAST(c.l3 AS HUGEINT) * b.n - CAST(b.l3 AS HUGEINT) * c.n)
        + abs(CAST(c.l4 AS HUGEINT) * b.n - CAST(b.l4 AS HUGEINT) * c.n))
           * 1000000 AS lang_num,
         (abs(CAST(c.h0 AS HUGEINT) * b.n - CAST(b.h0 AS HUGEINT) * c.n)
        + abs(CAST(c.h1 AS HUGEINT) * b.n - CAST(b.h1 AS HUGEINT) * c.n)
        + abs(CAST(c.h2 AS HUGEINT) * b.n - CAST(b.h2 AS HUGEINT) * c.n)
        + abs(CAST(c.h3 AS HUGEINT) * b.n - CAST(b.h3 AS HUGEINT) * c.n)
        + abs(CAST(c.h4 AS HUGEINT) * b.n - CAST(b.h4 AS HUGEINT) * c.n))
           * 1000000 AS hist_num,
         2 * b.n * c.n AS den
  FROM b, c
)
SELECT 'lang_mix_vs_v0' AS rule,
       CAST(n_b AS BIGINT) AS base_value, CAST(n_c AS BIGINT) AS cur_value,
       CAST(lang_num // den AS BIGINT) AS drift_ppm,
       lang_num <= 20000 * den AS passed
FROM nums
UNION ALL
SELECT 'n_chars_hist_vs_v0',
       CAST(n_b AS BIGINT), CAST(n_c AS BIGINT),
       CAST(hist_num // den AS BIGINT),
       hist_num <= 600000 * den
FROM nums
UNION ALL
SELECT 'n_chars_hist_strict',
       CAST(n_b AS BIGINT), CAST(n_c AS BIGINT),
       CAST(hist_num // den AS BIGINT),
       hist_num <= 100000 * den
FROM nums
"""


# q192: stream-over-slices == batch semantic_dedup (the parity
# contract of tests/test_streaming_semdedup.py), so the oracle IS
# q185's EXISTS oracle.
ORACLES["q192_streaming_semdedup"] = ORACLES["q185_semantic_dedup"]


# q195: FLAC is lossless, so the oracle recomputes every decoded
# sample from the closed forms — stereo interleaved t: channel t%2,
# index t//2, v=(id*31+t)%65536-32768 (q166's form); mono
# v=(id*31+j*j)%65536-32768; noise v=xor((id*2654435761+j*40503)%65536,
# (j*j*1103515245)%65536)-32768. wsum_amp weights by the in-channel
# index so frame-reassembly order bugs are value-visible.
# compressed_smaller pins the compression contract: the structured
# variants MUST beat raw PCM, the hash-noise variant MUST NOT
# (verbatim frames + container overhead) — both deterministic
# consequences of exact-cost subframe selection.
ORACLES["q195_flac_codec"] = """
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 5),
st AS (
  SELECT d.doc_id AS media_id, 'stereo' AS variant,
         CAST(t.t % 2 AS INT) AS channel, t.t // 2 AS pos,
         ((d.doc_id * 31 + t.t) % 65536) - 32768 AS v,
         TRUE AS compressed_smaller
  FROM docs d CROSS JOIN generate_series(0, 799) t(t)
),
mo AS (
  SELECT d.doc_id AS media_id, 'mono' AS variant,
         CAST(0 AS INT) AS channel, j.j AS pos,
         ((d.doc_id * 31 + j.j * j.j) % 65536) - 32768 AS v,
         TRUE AS compressed_smaller
  FROM docs d CROSS JOIN generate_series(0, 399) j(j)
),
nz AS (
  SELECT d.doc_id AS media_id, 'noise' AS variant,
         CAST(0 AS INT) AS channel, j.j AS pos,
         xor((d.doc_id * 2654435761 + j.j * 40503) % 65536,
             (j.j * j.j * 1103515245) % 65536) - 32768 AS v,
         FALSE AS compressed_smaller
  FROM docs d CROSS JOIN generate_series(0, 399) j(j)
),
s AS (SELECT * FROM st UNION ALL SELECT * FROM mo
      UNION ALL SELECT * FROM nz)
SELECT media_id, variant, channel,
       COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(SUM(CAST(pos AS BIGINT) * v) AS BIGINT) AS wsum_amp,
       CAST(MIN(v) AS INT) AS min_amp,
       CAST(MAX(v) AS INT) AS max_amp,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       compressed_smaller
FROM s GROUP BY 1, 2, 3, 10
"""

# q196: the WARC ingest contract's per-document facts are all
# recomputable straight from the documents table — md5(text) hashes
# the same UTF-8 bytes the shard payload carries, octet_length of the
# encoded text is the payload length, and rec_index is the rank of
# doc_id within its 1024-doc shard (the builder packs in doc_id
# order after the warcinfo record).
ORACLES["q196_warc_ingest"] = """
SELECT doc_id,
       CAST(doc_id // 1024 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id // 1024 ORDER BY doc_id
       ) AS BIGINT) AS rec_index,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
       md5(text) AS payload_md5,
       CAST(CASE WHEN doc_id % 10 = 7 THEN 404 ELSE 200 END AS INT)
           AS http_status,
       CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
           AS n_http_headers
FROM documents
"""

# q197: the LPC audit signals are period-6 linear recurrences
# x[i] = x[i-1] - x[i-2] — a doc-seeded 6-entry pattern indexed by
# i % 6, so every decoded sample is recomputable exactly; lpc_used /
# compressed_smaller are the deterministic contract booleans (LPC
# always beats fixed on these signals by construction; noise is
# always verbatim).
ORACLES["q197_flac_lpc"] = """
WITH docs AS (
  SELECT doc_id FROM documents WHERE doc_id % 7 = 2
),
osc_params AS (
  SELECT d.doc_id AS media_id, v.variant, v.channel,
         CASE v.seed
           WHEN 0 THEN (d.doc_id * 7) % 1000 + 100
           WHEN 1 THEN (d.doc_id * 11) % 1000 - 300
           ELSE (d.doc_id * 19) % 1000 - 250 END AS a,
         CASE v.seed
           WHEN 0 THEN (d.doc_id * 13) % 1000 - 500
           WHEN 1 THEN (d.doc_id * 17) % 1000 + 50
           ELSE (d.doc_id * 23) % 1000 + 125 END AS b
  FROM docs d
  CROSS JOIN (VALUES ('stereo_osc', 0, 0), ('stereo_osc', 1, 1),
                     ('mono_osc', 0, 2)) v(variant, channel, seed)
),
osc AS (
  SELECT p.media_id, p.variant, CAST(p.channel AS INT) AS channel,
         j.j AS pos,
         CASE (j.j % 6)
           WHEN 0 THEN a WHEN 1 THEN b WHEN 2 THEN b - a
           WHEN 3 THEN -a WHEN 4 THEN -b ELSE a - b END AS v,
         TRUE AS compressed_smaller, TRUE AS lpc_used
  FROM osc_params p CROSS JOIN generate_series(0, 479) j(j)
),
nz AS (
  SELECT d.doc_id AS media_id, 'noise' AS variant,
         CAST(0 AS INT) AS channel, j.j AS pos,
         xor((d.doc_id * 2246822519 + j.j * 2654435761) % 65536,
             (j.j * j.j * 97) % 65536) - 32768 AS v,
         FALSE AS compressed_smaller, FALSE AS lpc_used
  FROM docs d CROSS JOIN generate_series(0, 479) j(j)
),
s AS (SELECT * FROM osc UNION ALL SELECT * FROM nz)
SELECT media_id, variant, channel,
       COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(SUM(CAST(pos AS BIGINT) * v) AS BIGINT) AS wsum_amp,
       CAST(MIN(v) AS INT) AS min_amp,
       CAST(MAX(v) AS INT) AS max_amp,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       compressed_smaller, lpc_used
FROM s GROUP BY 1, 2, 3, 10, 11
"""

# q198: every per-sample fact is recomputable from the documents
# table — the tar + JSON round-trip must reproduce text (md5), lang,
# and n_chars exactly, and sample_index is the doc's rank within its
# 1024-doc shard (the builder packs samples in doc_id order).
ORACLES["q198_wds_tar_ingest"] = """
SELECT doc_id,
       CAST(doc_id // 1024 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id // 1024 ORDER BY doc_id
       ) AS BIGINT) AS sample_index,
       CAST(2 AS BIGINT) AS n_members,
       CAST(octet_length(encode(text)) AS BIGINT) AS txt_len,
       md5(text) AS txt_md5,
       lang AS meta_lang,
       CAST(n_chars AS BIGINT) AS meta_n_chars
FROM documents
"""

# q199: the extracted body text is reconstructed token-for-token in
# SQL — heading line ('Doc &' || id || '>'), 10-token paragraph
# lines, the href-less decoy anchor's text line, then one link-text
# line per href anchor, newline-joined; md5 of that string must
# match what the real HTML tokenizer extracted (any script leak,
# swallowed entity, or missed block boundary shifts the hash).
ORACLES["q199_html_extract"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS lst FROM documents
),
tok AS (
  SELECT doc_id, unnest(lst) AS tok,
         unnest(range(1, array_length(lst) + 1)) AS i
  FROM toks
),
chunk AS (
  SELECT doc_id, (i - 1) // 10 AS ci,
         string_agg(tok, ' ' ORDER BY i) AS line
  FROM tok GROUP BY doc_id, (i - 1) // 10
),
paras AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ci) AS para_block,
         COUNT(*) AS n_chunks
  FROM chunk GROUP BY doc_id
),
linkm AS (
  SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS m FROM documents
),
links AS (
  SELECT doc_id,
         string_agg('next ' || m, chr(10) ORDER BY m) AS link_block
  FROM linkm GROUP BY doc_id
),
built AS (
  SELECT p.doc_id, p.n_chunks,
         'Doc &' || p.doc_id || '>' || chr(10) || p.para_block
           || chr(10) || 'skip me' || chr(10) || l.link_block AS body
  FROM paras p JOIN links l USING (doc_id)
)
SELECT doc_id,
       'Doc ' || doc_id || ' & friends' AS title,
       CAST(doc_id % 3 + 1 AS INT) AS n_links,
       CAST(doc_id % 2 + 1 AS INT) AS n_scripts,
       CAST(2 + n_chunks + doc_id % 3 + 1 AS BIGINT) AS n_lines,
       CAST(octet_length(encode(body)) AS BIGINT) AS body_len,
       md5(body) AS body_md5
FROM built
"""

# q200: the end-to-end pipeline's extracted body is reconstructed
# from the documents table alone — heading line, 12-token paragraph
# lines, the link-text line — so a byte lost at ANY seam (warc
# framing, gzip, http parse, tag tokenizer) fails body_md5; token
# and line counts mirror the Spark side's declarative split/size.
ORACLES["q200_cc_pipeline"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS lst FROM documents
),
tok AS (
  SELECT doc_id, unnest(lst) AS tok,
         unnest(range(1, array_length(lst) + 1)) AS i
  FROM toks
),
chunk AS (
  SELECT doc_id, (i - 1) // 12 AS ci,
         string_agg(tok, ' ' ORDER BY i) AS line,
         COUNT(*) AS ntok
  FROM tok GROUP BY doc_id, (i - 1) // 12
),
built AS (
  SELECT doc_id,
         'Doc ' || doc_id || chr(10)
           || string_agg(line, chr(10) ORDER BY ci)
           || chr(10) || 'next' AS body,
         COUNT(*) AS n_chunks,
         SUM(ntok) AS body_toks
  FROM chunk GROUP BY doc_id
)
SELECT doc_id,
       CAST(doc_id // 1024 AS INT) AS shard,
       'Doc ' || doc_id AS title,
       CAST(2 + n_chunks AS BIGINT) AS n_lines,
       CAST(3 + body_toks AS BIGINT) AS n_tokens,
       md5(body) AS body_md5
FROM built
"""

# q201: the streaming shard-tail must land EXACTLY q196's facts —
# same oracle, certifying stream path == batch facts value-for-value
# (rare for a streaming query: the parquet sink the driver hashes IS
# the streamed state).
ORACLES["q201_warc_stream_ingest"] = ORACLES["q196_warc_ingest"]

# q202: the oracle builds the SAME urls and applies the SAME
# normalization policy in DuckDB — the pinned contract is
# cross-engine parity of the regex/string-op normalizers (Java regex
# vs RE2), the actual risk surface of expression-based URL work.
ORACLES["q202_url_normalize"] = """
WITH built AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END)
    || '://'
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || 'Site' || (doc_id % 40)
    || (CASE doc_id % 5 WHEN 0 THEN '.CO.UK' WHEN 1 THEN '.example.COM'
         WHEN 2 THEN '.Example.com.' WHEN 3 THEN '.org'
         ELSE '.ac.uk' END)
    || (CASE WHEN doc_id % 7 = 0 THEN ':8443' ELSE '' END)
    || '/a%20b/' || doc_id
    || '?ref=' || (doc_id % 9) || '&x=1'
    || (CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END) AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
      AS scheme,
    regexp_replace(
      regexp_replace(
        lower(regexp_replace(
          regexp_replace(
            regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
            '^[^@]*@', ''),
          ':[0-9]+$', '')),
        '\\.$', ''),
      '^www\\.', '') AS host,
    regexp_extract(
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
      ':([0-9]+)$', 1) AS port_s,
    regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS query,
    regexp_extract(url, '#(.*)$', 1) AS fragment
  FROM built
)
SELECT doc_id, url, scheme, host,
  CAST(CASE WHEN port_s <> '' THEN CAST(port_s AS INT)
            WHEN scheme = 'https' THEN 443
            WHEN scheme = 'http' THEN 80 ELSE -1 END AS INT) AS port,
  CASE WHEN regexp_matches(host,
            '\\.(co|com|org|net|ac|gov)\\.(uk|au|jp|in|br|nz)$')
        AND regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) <> ''
       THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
       ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END
    AS reg_domain,
  replace(replace(replace(replace(replace(
    replace(replace(replace(replace(replace(path,
    '%20', ' '), '%2D', '-'), '%2E', '.'), '%5F', '_'), '%7E', '~'),
    '%2d', '-'), '%2e', '.'), '%5f', '_'), '%7e', '~'),
    '%20', ' ') AS path_dec,
  regexp_extract(query, '(^|&)ref=([^&]*)', 2) AS ref,
  fragment
FROM parts
"""

# q203: every decision is recomputable from the deterministic rule
# construction — TrainBot on even sites hits the specific group
# (whose rules don't match /doc/ paths -> allowed, no pattern,
# delay 5); everyone else falls to the '*' group where the longer
# Allow /doc/*0$ overrides Disallow /doc/ exactly when the id ends
# in 0 (delay 2); one sitemap per file.
ORACLES["q203_robots_decisions"] = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'TrainBot' ELSE 'fetchly' END
         AS agent,
       CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN TRUE
            ELSE doc_id % 10 = 0 END AS allowed,
       CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN ''
            WHEN doc_id % 10 = 0 THEN '/doc/*0$'
            ELSE '/doc/' END AS matched_rule,
       CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 5
                 ELSE 2 END AS INT) AS crawl_delay,
       CAST(1 AS BIGINT) AS n_sitemaps
FROM documents
"""


# q204: progressive JPEG is a pure reordering of the baseline's
# quantized coefficients, so the oracle pins the STRONG contract —
# progressive decode pixel-identical to baseline decode, reordered
# scan script identical to the default script — plus exact dims and
# the q188-style source-error floor, on the declared doc_id%7==3
# slice.
ORACLES["q204_jpeg_progressive"] = """
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       TRUE AS prog_exact,
       TRUE AS reorder_exact,
       TRUE AS err_ok
FROM documents WHERE doc_id % 7 = 3
"""


# q207: sub-byte PNG is lossless — every decoded value recomputes
# from the closed forms: gray sample k of doc i is (i*31+k) % 2^d;
# palette index the same mod 2^d expanded through pal[j] =
# ((j*5+1)%256, (j*11+3)%256, (j*23+7)%256), 3 channels per pixel.
ORACLES["q207_png_subbyte"] = """
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 6),
d AS (SELECT unnest([1, 2, 4]) AS depth),
gray AS (
  SELECT doc_id AS media_id, 'gray' AS profile, depth,
         (doc_id * 31 + t.k) % (1 << depth) AS v
  FROM docs, d CROSS JOIN generate_series(0, 191) t(k)
),
pal AS (
  SELECT doc_id AS media_id, 'palette' AS profile, depth,
         CASE c
           WHEN 0 THEN (((doc_id * 31 + t.k) % (1 << depth)) * 5 + 1) % 256
           WHEN 1 THEN (((doc_id * 31 + t.k) % (1 << depth)) * 11 + 3) % 256
           ELSE (((doc_id * 31 + t.k) % (1 << depth)) * 23 + 7) % 256
         END AS v
  FROM docs, d
  CROSS JOIN generate_series(0, 191) t(k)
  CROSS JOIN generate_series(0, 2) tc(c)
),
s AS (SELECT * FROM gray UNION ALL SELECT * FROM pal)
SELECT media_id, profile, CAST(depth AS INT) AS depth,
       COUNT(*) AS n_vals,
       CAST(SUM(v) AS BIGINT) AS sum_val,
       CAST(MIN(v) AS INT) AS min_val,
       CAST(MAX(v) AS INT) AS max_val
FROM s GROUP BY 1, 2, 3
"""


# q208: FLAC is lossless, so every decoded sample recomputes from the
# closed forms at both widths; stats in exact int64, TRUE compression
# pins pinned on the predictor-friendly linear signals.
ORACLES["q208_flac_depths"] = """
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 1),
s8 AS (
  SELECT doc_id AS media_id, 'pcm8_mono' AS variant, 0 AS channel, t.j,
         ((doc_id * 7 + t.j * 3) % 256) - 128 AS v
  FROM docs CROSS JOIN generate_series(0, 399) t(j)
),
s24 AS (
  SELECT doc_id AS media_id, 'pcm24_stereo' AS variant, c.c AS channel,
         t.j,
         CASE c.c
           WHEN 0 THEN ((doc_id * 13 + t.j * 9973) % 16777216) - 8388608
           ELSE ((doc_id * 17 + t.j * 31) % 16777216) - 8388608
         END AS v
  FROM docs CROSS JOIN generate_series(0, 399) t(j)
  CROSS JOIN (VALUES (0), (1)) c(c)
),
u AS (SELECT * FROM s8 UNION ALL SELECT * FROM s24)
SELECT media_id, variant, CAST(channel AS INT) AS channel,
       COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_amp,
       CAST(SUM(v * j) AS BIGINT) AS wsum_amp,
       CAST(MIN(v) AS BIGINT) AS min_amp,
       CAST(MAX(v) AS BIGINT) AS max_amp,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       TRUE AS compressed_smaller
FROM u GROUP BY 1, 2, 3
"""


# q209: the whole stratified draw is integer-exact and hash-
# deterministic, so the oracle replays it — stratum counts, Hamilton
# quotas (base = (200*n) DIV N, remainders ranked by (200*n) mod N
# desc with lang-asc tie-break), md5-bucket ranks within strata —
# and summarizes the identical 200 selections.
ORACLES["q209_exact_stratified_sample"] = f"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
           WHERE lang IS NOT NULL GROUP BY lang),
t AS (SELECT SUM(n) AS big FROM c),
q AS (SELECT lang, n, (200 * n) // t.big AS base,
             (200 * n) % t.big AS frac
      FROM c, t),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, lang) AS rr
      FROM q),
alloc AS (
  SELECT lang,
         base + CASE WHEN rr <= 200 - (SELECT SUM(base) FROM q)
                     THEN 1 ELSE 0 END AS k
  FROM r
),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_md5_int("'sample-v1' || CAST(doc_id AS VARCHAR)")}
                    % 1000000, doc_id
         ) AS rk
  FROM documents WHERE lang IS NOT NULL
)
SELECT lang,
       COUNT(*) AS n_selected,
       SUM(doc_id) AS sum_doc_id,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM ranked JOIN alloc USING (lang)
WHERE rk <= k
GROUP BY lang
"""


# q210: every SOF1 contract boolean is pinned TRUE (markers/DQT-Pq/
# precision checked from the bytes; err threshold 96 has 1.5x margin
# over the measured worst 65.2; the 8-bit twin is pixel-identical to
# baseline by construction) and the dims are the declared raster.
ORACLES["q210_jpeg_extended"] = """
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       TRUE AS sof1_stream,
       TRUE AS precision12,
       TRUE AS err_ok,
       TRUE AS twin8_exact
FROM documents WHERE doc_id % 7 = 4
"""


# q211: all four WAV round-trips are lossless by construction, so
# the booleans pin TRUE and the 24-bit/float/8-bit stats recompute
# from the closed forms (float32 signal is k/1024 with integer k —
# dyadic, exactly representable, so the micro-unit sum is pure
# integer math; the 8-bit profile decodes offset-128 unsigned to
# (u-128)*256 full-scale int16).
ORACLES["q211_wav_formats"] = """
WITH j AS (SELECT unnest(range(0, 300)) AS j),
docs AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
s AS (
  SELECT doc_id,
         (doc_id * 31 + j.j) % 16777216 - 8388608 AS v24,
         (doc_id * 31 + j.j) % 2048 - 1024 AS k,
         ((doc_id * 31 + j.j) % 256 - 128) * 256 AS v8
  FROM docs, j
)
SELECT doc_id AS media_id,
       CAST(300 AS BIGINT) AS n_samples,
       TRUE AS pcm16_ok,
       TRUE AS pcm24_ok,
       TRUE AS f32_ok,
       TRUE AS pcm8_ok,
       SUM(v24) AS pcm24_sum,
       MIN(v24) AS pcm24_min,
       MAX(v24) AS pcm24_max,
       SUM(k) AS f32_sum_micro,
       SUM(v8) AS pcm8_sum
FROM s GROUP BY doc_id
"""


# q212: lossless JPEG is byte-exact by definition, so every contract
# boolean pins TRUE (round-trips from array equality incl. dtype;
# stream structure from the real marker walk; compression on the
# smooth signal) and the dims are the declared raster.
# q213: the KMV summary is a pure function of the key set, so DuckDB
# recomputes the identical bottom-256 of the identical 48-bit md5
# hashes; estimate = 255*2^48 // kth in exact integer math; the
# bound check is pure integer arithmetic; merge == direct is TRUE by
# construction (bottom-k is a semilattice — q212's by-construction
# boolean pattern).
ORACLES["q213_kmv_distinct"] = """
WITH h AS (
  SELECT DISTINCT CAST('0x' || substr(
    md5('kmv-v1' || CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT) AS h
  FROM orders
),
bot AS (SELECT h FROM h ORDER BY h LIMIT 256),
st AS (SELECT count(*) AS nb, max(h) AS kth FROM bot),
ex AS (SELECT count(DISTINCT o_custkey) AS n FROM orders)
SELECT CAST(256 AS INT) AS k,
       CAST(n AS BIGINT) AS n_exact,
       CASE WHEN nb < 256 THEN NULL ELSE kth END AS kth_hash,
       CASE WHEN nb < 256 THEN CAST(nb AS BIGINT)
            ELSE CAST(71776119061217280 // kth AS BIGINT) END AS estimate,
       ((CASE WHEN nb < 256 THEN nb
              ELSE 71776119061217280 // kth END) - n)
       * ((CASE WHEN nb < 256 THEN nb
                ELSE 71776119061217280 // kth END) - n)
       * 256 <= 25 * n * n AS rel_err_ok,
       TRUE AS merge_equals_direct
FROM st, ex
"""


# q214: the Bloom positions are the same md5 values mod 16384, so the
# false-positive COUNT is recomputed exactly; the bound boolean uses
# only IEEE multiply/divide-by-2^14 (no libm), identical both sides.
ORACLES["q214_bloom_seen_set"] = """
WITH fpos AS (
  SELECT DISTINCT CAST('0x' || substr(md5(
    'bloom-v1' || CAST(j AS VARCHAR) || '-' || CAST(o_custkey AS VARCHAR)
  ), 1, 15) AS BIGINT) % 16384 AS pos
  FROM orders, unnest(range(0, 4)) t(j)
),
probe AS (
  SELECT c_custkey,
         CAST('0x' || substr(md5(
           'bloom-v1' || CAST(j AS VARCHAR) || '-'
           || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 16384 AS pos
  FROM customer, unnest(range(0, 4)) t(j)
),
mem AS (
  SELECT c_custkey,
         bool_and(pos IN (SELECT pos FROM fpos)) AS member
  FROM probe GROUP BY c_custkey
),
seen AS (SELECT DISTINCT o_custkey FROM orders),
fl AS (
  SELECT m.c_custkey, m.member, s.o_custkey IS NOT NULL AS is_seen
  FROM mem m LEFT JOIN seen s ON m.c_custkey = s.o_custkey
),
bits AS (SELECT count(*) AS bits_set FROM fpos),
ag AS (
  SELECT count(*) AS n_probes,
         sum(CASE WHEN is_seen THEN 1 ELSE 0 END) AS n_seen,
         sum(CASE WHEN is_seen AND NOT member THEN 1 ELSE 0 END)
           AS n_false_neg,
         sum(CASE WHEN NOT is_seen AND member THEN 1 ELSE 0 END)
           AS fp_count
  FROM fl
)
SELECT CAST(16384 AS INT) AS m,
       CAST(4 AS INT) AS k,
       CAST(n_probes AS BIGINT) AS n_probes,
       CAST(n_seen AS BIGINT) AS n_seen,
       CAST(n_false_neg AS BIGINT) AS n_false_neg,
       CAST(bits_set AS BIGINT) AS bits_set,
       CAST(fp_count AS BIGINT) AS fp_count,
       CAST(fp_count AS DOUBLE) <= 3.0
         * CAST(n_probes - n_seen AS DOUBLE)
         * ((CAST(bits_set AS DOUBLE) / 16384.0)
            * (CAST(bits_set AS DOUBLE) / 16384.0))
         * ((CAST(bits_set AS DOUBLE) / 16384.0)
            * (CAST(bits_set AS DOUBLE) / 16384.0)) AS fpr_bound_ok
FROM ag, bits
"""


# q215: the streamed verdicts replay exactly in SQL — each slice's
# prior-positions set is the union of earlier slices' position sets,
# and a key is seen_before iff ALL four of its md5 positions appear
# there (slice 0 joins nothing: all false). Same md5, same booleans,
# false positives included.
ORACLES["q215_streaming_bloom"] = """
WITH keys AS (
  SELECT DISTINCT o_orderkey % 3 AS s, o_custkey AS key FROM orders
),
pos AS (
  SELECT s, key,
         CAST('0x' || substr(md5(
           'bloom-v1' || CAST(j AS VARCHAR) || '-'
           || CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % 16384 AS pos
  FROM keys, unnest(range(0, 4)) t(j)
),
prior AS (
  SELECT DISTINCT later.s AS s, p.pos
  FROM pos p JOIN (SELECT DISTINCT s FROM pos) later ON p.s < later.s
),
verd AS (
  SELECT p.s, p.key, bool_and(pr.pos IS NOT NULL) AS seen_before
  FROM pos p
  LEFT JOIN prior pr ON pr.s = p.s AND pr.pos = p.pos
  GROUP BY p.s, p.key
)
SELECT CAST(s AS INT) AS slice,
       CAST(key AS BIGINT) AS custkey,
       seen_before
FROM verd
"""


# q216: CMS counters are sums of the same md5 positions, so DuckDB
# rebuilds the identical ≤ d·w counter table and replays every
# estimate exactly; both contract booleans are pure integer math.
ORACLES["q216_cms_frequency"] = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
),
cnts AS (SELECT tok, count(*) AS true_cnt FROM tok GROUP BY tok),
total AS (SELECT count(*) AS n FROM tok),
top AS (SELECT tok, true_cnt FROM cnts ORDER BY true_cnt DESC, tok LIMIT 10),
probes AS (
  SELECT tok, CAST(true_cnt AS BIGINT) AS true_cnt FROM top
  UNION ALL
  SELECT t, CAST(0 AS BIGINT)
  FROM unnest(['zz-absent-a', 'zz-absent-b', 'zz-absent-c']) u(t)
),
counters AS (
  SELECT rw, pos, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT r.rw,
           CAST('0x' || substr(md5(
             'cms-v1' || CAST(r.rw AS VARCHAR) || '-' || tok
           ), 1, 15) AS BIGINT) % 8192 AS pos
    FROM tok, unnest(range(0, 4)) r(rw)
  ) GROUP BY rw, pos
),
pp AS (
  SELECT p.tok, p.true_cnt, r.rw,
         CAST('0x' || substr(md5(
           'cms-v1' || CAST(r.rw AS VARCHAR) || '-' || p.tok
         ), 1, 15) AS BIGINT) % 8192 AS pos
  FROM probes p, unnest(range(0, 4)) r(rw)
),
est AS (
  SELECT pp.tok, pp.true_cnt,
         min(coalesce(c.cnt, 0)) AS est_cnt
  FROM pp LEFT JOIN counters c ON c.rw = pp.rw AND c.pos = pp.pos
  GROUP BY pp.tok, pp.true_cnt
)
SELECT tok, true_cnt, est_cnt,
       est_cnt >= true_cnt AS over_ok,
       (est_cnt - true_cnt) * 8192 <= 8 * (SELECT n FROM total)
         AS bound_ok
FROM est
"""


ORACLES["q212_jpeg_lossless"] = """
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       TRUE AS rt8_exact,
       TRUE AS rt12_exact,
       TRUE AS rt16_exact,
       TRUE AS sof3_stream,
       TRUE AS compressed_smaller
FROM documents WHERE doc_id % 7 = 2
"""


# q223: int8 quantization is floor over IEEE double ops and the
# scores are exact int64 (ranking key = one correctly-rounded
# divide+sqrt), so DuckDB recomputes the quantized vectors, both
# rankings, and every hit count bit-for-bit.
ORACLES["q223_int8_ann"] = f"""
WITH base AS (
  SELECT vec_id AS id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
scaled AS (
  SELECT id, x,
         list_max(list_transform(x, v -> abs(v))) AS s
  FROM base
),
qv AS (
  SELECT id,
         CASE WHEN s = 0 THEN list_transform(x, v -> 0)
              ELSE list_transform(x, v -> CAST(GREATEST(-127.0,
                     LEAST(127.0, floor(v * 127.0 / s))) AS INT))
         END AS qvec
  FROM scaled
),
qq AS (SELECT id AS query_id, qvec AS q_qv FROM qv WHERE id < 10),
cc AS (
  SELECT id AS neighbor_id, qvec AS c_qv,
         list_sum(list_transform(range(1, len(qvec) + 1),
           i -> CAST(qvec[i] AS BIGINT) * qvec[i])) AS c_nn
  FROM qv
),
scored AS (
  SELECT query_id, neighbor_id,
         list_sum(list_transform(range(1, len(q_qv) + 1),
           i -> CAST(q_qv[i] AS BIGINT) * c_qv[i])) AS qdot,
         c_nn
  -- c_nn > 0: zero vectors would score 0/sqrt(0)=NaN and Spark
  -- sorts NaN largest (ADVICE r10) — excluded on both engines
  FROM qq, cc WHERE query_id <> neighbor_id AND c_nn > 0
),
approx AS (
  SELECT query_id, neighbor_id, qdot, c_nn,
         row_number() OVER (PARTITION BY query_id
           ORDER BY CAST(qdot AS DOUBLE) / sqrt(CAST(c_nn AS DOUBLE))
                    DESC, neighbor_id) AS rank
  FROM scored
),
a5 AS (SELECT * FROM approx WHERE rank <= 5),
fq AS (SELECT vec_id AS query_id, embedding AS qvf
       FROM embeddings WHERE vec_id < 10),
fc AS (SELECT vec_id AS neighbor_id, embedding AS cvf FROM embeddings),
fscored AS (
  SELECT query_id, neighbor_id,
         ROUND({_cos('qvf', 'cvf')}, 6) AS cos
  FROM fq, fc WHERE query_id <> neighbor_id
),
e5 AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM fscored)
  WHERE rank <= 5
),
hits AS (
  SELECT a.query_id,
         sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           AS hit_count
  FROM a5 a LEFT JOIN e5 e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id
),
t1 AS (
  SELECT query_id, neighbor_id AS top1_id, qdot AS top1_qdot,
         c_nn AS top1_self_norm
  FROM approx WHERE rank = 1
)
SELECT h.query_id,
       CAST(h.hit_count AS BIGINT) AS hit_count,
       t1.top1_id,
       t1.top1_qdot,
       t1.top1_self_norm,
       h.hit_count >= 4 AS recall_ok
FROM hits h JOIN t1 ON h.query_id = t1.query_id
"""


# q224: the PQ codebook is sampled (lowest 64 ids), assignments and
# per-sub dot products are fixed-order IEEE folds with centroid-id
# tiebreaks, and the ADC score folds left-to-right over subspaces —
# so DuckDB replays codes, shortlists, the rerank and the hit counts.
ORACLES["q224_pq_ann"] = f"""
WITH base AS (
  SELECT vec_id AS id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
subs AS (
  SELECT id, s.s AS sub, list_slice(x, s.s * 8 + 1, s.s * 8 + 8) AS sv
  FROM base, (SELECT unnest(range(0, 8)) AS s) s
),
cents AS (
  SELECT CAST(id AS INT) AS cent, sub, sv AS cv FROM subs WHERE id < 64
),
assign AS (
  SELECT id, sub, cent,
         row_number() OVER (PARTITION BY id, sub ORDER BY
           list_sum(list_transform(range(1, 9),
             i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) ASC, cent ASC
         ) AS rn
  FROM subs JOIN cents USING (sub)
),
codes AS (
  SELECT id, list(cent ORDER BY sub) AS codes
  FROM assign WHERE rn = 1 GROUP BY id
),
qsubs AS (SELECT id AS query_id, sub, sv FROM subs WHERE id < 10),
lut_rows AS (
  SELECT query_id, sub, cent,
         list_sum(list_transform(range(1, 9), i -> sv[i] * cv[i]))
           AS pdot
  FROM qsubs JOIN cents USING (sub)
),
per_sub AS (
  SELECT query_id, sub, list(pdot ORDER BY cent) AS arr
  FROM lut_rows GROUP BY query_id, sub
),
lut AS (
  SELECT query_id, list(arr ORDER BY sub) AS lut
  FROM per_sub GROUP BY query_id
),
scored AS (
  SELECT query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> lut[i][codes[i] + 1])) AS adc
  FROM codes c, lut WHERE query_id <> c.id
),
short AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc DESC, neighbor_id) AS rank
        FROM scored)
  WHERE rank <= 50
),
qv AS (SELECT vec_id AS query_id, embedding AS qvf
       FROM embeddings WHERE vec_id < 10),
rr AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND({_cos('qvf', 'cvf')}, 6) AS cos
  FROM short s
  JOIN (SELECT vec_id, embedding AS cvf FROM embeddings) c
    ON s.neighbor_id = c.vec_id
  JOIN qv ON s.query_id = qv.query_id
),
final AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, neighbor_id) AS rank
  FROM rr
),
f5 AS (SELECT * FROM final WHERE rank <= 5),
fc AS (SELECT vec_id AS neighbor_id, embedding AS cvf FROM embeddings),
exact5 AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY ROUND({_cos('qvf', 'cvf')}, 6) DESC,
                          neighbor_id) AS rank
        FROM qv, fc WHERE query_id <> neighbor_id)
  WHERE rank <= 5
),
hits AS (
  SELECT a.query_id,
         sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           AS hit_count
  FROM f5 a LEFT JOIN exact5 e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id
),
t1 AS (
  SELECT query_id, neighbor_id AS top1_id, cos AS top1_cos
  FROM f5 WHERE rank = 1
)
SELECT h.query_id,
       CAST(h.hit_count AS BIGINT) AS hit_count,
       t1.top1_id,
       t1.top1_cos,
       h.hit_count >= 3 AS recall_ok
FROM hits h JOIN t1 ON h.query_id = t1.query_id
"""


# q222: the streaming quantile state is the batch sketch of the
# prefix (gen-b == quantile_sketch(slices <= b) row-for-row), so per
# slice the oracle recomputes the hash-threshold sample over the
# prefix and replays sample size, cutoff and both discrete quantiles
# bit-for-bit.
ORACLES["q222_streaming_quantile"] = """
WITH sl AS (SELECT CAST(s AS INT) AS slice FROM unnest(range(0, 3)) t(s)),
lv AS (
  SELECT o_orderkey % 3 AS part,
         CAST('0x' || substr(
           md5('qsk-v1' || CAST(o_orderkey AS VARCHAR)), 1, 12
         ) AS BIGINT) AS h,
         o_totalprice AS v
  FROM orders
),
lv2 AS (
  SELECT part, h, v,
         CASE WHEN h = 0 THEN 0 ELSE length(bin(h)) END AS lvl
  FROM lv
),
pre AS (
  SELECT slice, h, v, lvl FROM sl JOIN lv2 ON lv2.part <= sl.slice
),
census AS (
  SELECT slice, lvl, count(*) AS c FROM pre GROUP BY slice, lvl
),
cum AS (
  SELECT slice, lvl,
         sum(c) OVER (PARTITION BY slice ORDER BY lvl) AS cum
  FROM census
),
cut AS (
  SELECT slice, max(lvl) AS m FROM cum WHERE cum <= 1024 GROUP BY slice
),
samp AS (
  SELECT pre.slice, pre.v, pre.lvl
  FROM pre JOIN cut ON pre.slice = cut.slice AND pre.lvl <= cut.m
)
SELECT slice,
       CAST(count(*) AS BIGINT) AS sample_n,
       CAST(max(lvl) AS INT) AS lvl_cut,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS p50_est,
       percentile_disc(0.9) WITHIN GROUP (ORDER BY v) AS p90_est
FROM samp GROUP BY slice
"""


# q221: the sub-theta region of two same-salt bottom-k sketches is a
# pure function of the two key sets, so DuckDB recomputes theta, the
# intersection/difference counts, and every DIV-scaled estimate
# bit-for-bit; the error booleans are pure integer comparisons.
ORACLES["q221_theta_set_ops"] = """
WITH ha AS (
  SELECT DISTINCT CAST('0x' || substr(
    md5('kmv-v1' || CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT) AS h
  FROM orders WHERE o_orderstatus = 'O'
),
hb AS (
  SELECT DISTINCT CAST('0x' || substr(
    md5('kmv-v1' || CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT) AS h
  FROM orders WHERE o_orderstatus = 'F'
),
ba AS (SELECT h FROM ha ORDER BY h LIMIT 256),
bb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
th AS (
  SELECT LEAST(
    (SELECT CASE WHEN count(*) < 256 THEN 281474976710656
                 ELSE max(h) END FROM ba),
    (SELECT CASE WHEN count(*) < 256 THEN 281474976710656
                 ELSE max(h) END FROM bb)) AS theta
),
ua AS (SELECT h FROM ba, th WHERE h < theta),
ub AS (SELECT h FROM bb, th WHERE h < theta),
cnt AS (
  SELECT
    (SELECT count(*) FROM ua WHERE h IN (SELECT h FROM ub)) AS n_inter,
    (SELECT count(*) FROM ua WHERE h NOT IN (SELECT h FROM ub)) AS n_a_only,
    (SELECT count(*) FROM ub WHERE h NOT IN (SELECT h FROM ua)) AS n_b_only
),
ex AS (
  SELECT
    (SELECT count(*) FROM
      (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      WHERE o_custkey IN
      (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    ) AS exact_inter,
    (SELECT count(DISTINCT o_custkey) FROM orders
      WHERE o_orderstatus IN ('O', 'F')) AS exact_union
)
SELECT CAST(256 AS INT) AS k,
       theta,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_a_only AS BIGINT) AS n_a_only,
       CAST(n_b_only AS BIGINT) AS n_b_only,
       CAST(n_inter * 281474976710656 // theta AS BIGINT) AS est_inter,
       CAST(n_a_only * 281474976710656 // theta AS BIGINT) AS est_a_only,
       CAST(n_b_only * 281474976710656 // theta AS BIGINT) AS est_b_only,
       CAST((n_inter + n_a_only + n_b_only) * 281474976710656 // theta
            AS BIGINT) AS est_union,
       CAST(exact_inter AS BIGINT) AS exact_inter,
       CAST(exact_union AS BIGINT) AS exact_union,
       (n_inter * 281474976710656 // theta - exact_inter)
       * (n_inter * 281474976710656 // theta - exact_inter) * 256
       <= 25 * exact_union * exact_union AS inter_err_ok,
       ((n_inter + n_a_only + n_b_only) * 281474976710656 // theta
        - exact_union)
       * ((n_inter + n_a_only + n_b_only) * 281474976710656 // theta
          - exact_union) * 256
       <= 25 * exact_union * exact_union AS union_err_ok
FROM th, cnt, ex
"""


# q217 (production build, round-12 split): the hash-threshold sample
# is a pure function of the key set, so DuckDB recomputes the
# sample, the power-of-two cutoff and both discrete quantiles
# bit-for-bit (bin() renders without leading zeros in both engines;
# bin(0)='0' is excluded by the h=0 CASE).
ORACLES["q217_quantile_sketch"] = """
WITH h AS (
  SELECT CAST('0x' || substr(
           md5('qsk-v1' || CAST(o_orderkey AS VARCHAR)), 1, 12
         ) AS BIGINT) AS h,
         o_totalprice AS v
  FROM orders
),
lv AS (
  SELECT h, v,
         CASE WHEN h = 0 THEN 0 ELSE length(bin(h)) END AS lvl
  FROM h
),
census AS (SELECT lvl, count(*) AS c FROM lv GROUP BY lvl),
cum AS (SELECT lvl, sum(c) OVER (ORDER BY lvl) AS cum FROM census),
cut AS (SELECT max(lvl) AS m FROM cum WHERE cum <= 1024),
samp AS (SELECT lv.* FROM lv, cut WHERE lv.lvl <= cut.m)
SELECT CAST(1024 AS INT) AS cap,
       CAST(count(*) AS BIGINT) AS sample_n,
       CAST(max(lvl) AS INT) AS lvl_cut,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS p50_est,
       percentile_disc(0.9) WITHIN GROUP (ORDER BY v) AS p90_est
FROM samp
"""


# q234 (the on-demand audit half of the round-12 split): exact
# ranks, the integer rank-error booleans, and the merge pin — the
# round-9 q217 oracle unchanged.
ORACLES["q234_quantile_sketch_audit"] = """
WITH h AS (
  SELECT CAST('0x' || substr(
           md5('qsk-v1' || CAST(o_orderkey AS VARCHAR)), 1, 12
         ) AS BIGINT) AS h,
         o_totalprice AS v
  FROM orders
),
lv AS (
  SELECT h, v,
         CASE WHEN h = 0 THEN 0 ELSE length(bin(h)) END AS lvl
  FROM h
),
census AS (SELECT lvl, count(*) AS c FROM lv GROUP BY lvl),
cum AS (SELECT lvl, sum(c) OVER (ORDER BY lvl) AS cum FROM census),
cut AS (SELECT max(lvl) AS m FROM cum WHERE cum <= 1024),
samp AS (SELECT lv.* FROM lv, cut WHERE lv.lvl <= cut.m),
summ AS (
  SELECT CAST(count(*) AS BIGINT) AS sample_n,
         CAST(max(lvl) AS INT) AS lvl_cut,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS p50_est,
         percentile_disc(0.9) WITHIN GROUP (ORDER BY v) AS p90_est
  FROM samp
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
ex AS (
  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
           AS p50_exact,
         percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
           AS p90_exact
  FROM orders
),
rk AS (
  SELECT CAST(sum(CASE WHEN o_totalprice <= p50_est THEN 1 ELSE 0 END)
              AS BIGINT) AS r50,
         CAST(sum(CASE WHEN o_totalprice <= p90_est THEN 1 ELSE 0 END)
              AS BIGINT) AS r90
  FROM orders, summ
)
SELECT CAST(1024 AS INT) AS cap,
       n AS n_total,
       sample_n,
       lvl_cut,
       p50_est,
       p90_est,
       p50_exact,
       p90_exact,
       (2 * r50 - n) * (2 * r50 - n) * sample_n <= 25 * n * n
         AS p50_err_ok,
       (10 * r90 - 9 * n) * (10 * r90 - 9 * n) * sample_n
         <= 625 * n * n AS p90_err_ok,
       TRUE AS merge_equals_direct
FROM summ, tot, ex, rk
"""


# q218: the streaming KMV state is a pure function of the key set of
# the slices seen so far, so every per-batch estimate replays in SQL:
# per slice i, bottom-256 of the distinct hashes over slices <= i.
ORACLES["q218_streaming_kmv"] = """
WITH hh AS (
  SELECT DISTINCT o_orderkey % 3 AS s,
         CAST('0x' || substr(
           md5('kmv-v1' || CAST(o_custkey AS VARCHAR)), 1, 12
         ) AS BIGINT) AS h
  FROM orders
),
pre AS (
  SELECT DISTINCT t.i AS slice, hh.h
  FROM hh, unnest(range(0, 3)) t(i)
  WHERE hh.s <= t.i
),
r AS (
  SELECT slice, h,
         row_number() OVER (PARTITION BY slice ORDER BY h) AS rn
  FROM pre
),
b AS (
  SELECT slice, count(*) AS nb, max(h) AS kth
  FROM r WHERE rn <= 256 GROUP BY slice
)
SELECT CAST(slice AS INT) AS slice,
       CAST(nb AS BIGINT) AS n_candidates,
       CASE WHEN nb < 256 THEN CAST(nb AS BIGINT)
            ELSE CAST(71776119061217280 // kth AS BIGINT) END AS estimate
FROM b
"""


# q219: CMS counters over each slice prefix re-sum in SQL (sums are
# associative), so every per-batch probe estimate, the est>=true pin
# and the integer bound replay exactly.
ORACLES["q219_streaming_cms"] = """
WITH top3 AS (
  SELECT CAST(o_custkey AS VARCHAR) AS key
  FROM orders GROUP BY o_custkey
  ORDER BY count(*) DESC, o_custkey LIMIT 3
),
probes AS (SELECT key FROM top3 UNION ALL SELECT 'zz-absent'),
sl AS (
  SELECT o_orderkey % 3 AS s, CAST(o_custkey AS VARCHAR) AS key
  FROM orders
),
counters AS (
  SELECT slice, rw, pos, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT t.i AS slice, r.rw,
           CAST('0x' || substr(md5(
             'cms-v1' || CAST(r.rw AS VARCHAR) || '-' || sl.key
           ), 1, 15) AS BIGINT) % 8192 AS pos
    FROM sl, unnest(range(0, 3)) t(i), unnest(range(0, 4)) r(rw)
    WHERE sl.s <= t.i
  ) GROUP BY slice, rw, pos
),
pp AS (
  SELECT p.key, t.i AS slice, r.rw,
         CAST('0x' || substr(md5(
           'cms-v1' || CAST(r.rw AS VARCHAR) || '-' || p.key
         ), 1, 15) AS BIGINT) % 8192 AS pos
  FROM probes p, unnest(range(0, 3)) t(i), unnest(range(0, 4)) r(rw)
),
est AS (
  SELECT pp.key, pp.slice, min(coalesce(c.cnt, 0)) AS est_cnt
  FROM pp LEFT JOIN counters c
    ON c.slice = pp.slice AND c.rw = pp.rw AND c.pos = pp.pos
  GROUP BY pp.key, pp.slice
),
px AS (
  SELECT p.key, t.i AS slice
  FROM probes p, unnest(range(0, 3)) t(i)
),
tru AS (
  SELECT px.key, px.slice, count(sl.key) AS true_cnt
  FROM px LEFT JOIN sl ON sl.key = px.key AND sl.s <= px.slice
  GROUP BY px.key, px.slice
),
n AS (
  SELECT t.i AS slice, count(*) AS n_prefix
  FROM sl, unnest(range(0, 3)) t(i)
  WHERE sl.s <= t.i GROUP BY t.i
)
SELECT CAST(e.slice AS INT) AS slice,
       e.key AS probe_key,
       CAST(e.est_cnt AS BIGINT) AS est_cnt,
       CAST(tru.true_cnt AS BIGINT) AS true_cnt,
       e.est_cnt >= tru.true_cnt AS over_ok,
       (e.est_cnt - tru.true_cnt) * 8192 <= 8 * n.n_prefix AS bound_ok
FROM est e
JOIN tru ON tru.key = e.key AND tru.slice = e.slice
JOIN n ON n.slice = e.slice
"""

# q226: exact substring dedup — overlapping 10-token windows with
# positions (struct-comprehension unnest), global occurrence counts,
# lag()-based interval merge per doc. DuckDB lists are 1-indexed and
# slices inclusive; lag() is NULL on the first row so the break flag
# coalesces to 0 (first window always opens island 0).
ORACLES["q226_substring_dedup"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
w AS (
  SELECT doc_id, len(tk) AS n_tokens,
         unnest([{{'pos': i, 'gram': array_to_string(tk[i+1 : i+10], ' ')}}
                 for i in range(len(tk) - 10 + 1)]) AS s
  FROM d WHERE len(tk) >= 10
),
g AS (SELECT doc_id, n_tokens, s.pos AS pos, s.gram AS gram FROM w),
pc AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram),
dup AS (
  SELECT doc_id, n_tokens, pos FROM g JOIN pc USING (gram) WHERE pc.n >= 2
),
brk AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
              THEN 1 ELSE 0 END AS b
  FROM dup
),
isl AS (
  SELECT doc_id, n_tokens, pos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
),
spans AS (
  SELECT doc_id, n_tokens, island,
         MAX(pos) - MIN(pos) + 10 AS span_len
  FROM isl GROUP BY doc_id, n_tokens, island
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
       CAST(MAX(span_len) AS BIGINT) AS max_span,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(span_len) AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS dup_ratio
FROM spans GROUP BY doc_id, n_tokens
ORDER BY doc_id
"""

# q231: substring-span excision — q226's dup-start head, then every
# token position covered by a duplicated window (pos BETWEEN start
# AND start+9) is dropped via NOT EXISTS and the survivors re-joined
# in position order. Drop-all-repeats policy (see operators/text.py
# substring_excise). Docs with no kept rows (fully duplicated) and
# docs shorter than the window both come back through the LEFT JOIN:
# empty string / whitespace-normalized passthrough respectively.
ORACLES["q231_substring_excise"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
w AS (
  SELECT doc_id,
         unnest([{{'pos': i, 'gram': array_to_string(tk[i+1 : i+10], ' ')}}
                 for i in range(len(tk) - 10 + 1)]) AS s
  FROM d WHERE len(tk) >= 10
),
g AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM w),
pc AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram),
dup AS (SELECT doc_id, pos FROM g JOIN pc USING (gram) WHERE pc.n >= 2),
toks AS (
  SELECT doc_id, u.p AS p, u.t AS t FROM (
    SELECT doc_id,
           unnest([{{'p': i, 't': tk[i+1]}} for i in range(len(tk))]) AS u
    FROM d
  )
),
kept AS (
  SELECT tt.doc_id, tt.p, tt.t
  FROM toks tt
  WHERE NOT EXISTS (
    SELECT 1 FROM dup x
    WHERE x.doc_id = tt.doc_id AND tt.p BETWEEN x.pos AND x.pos + 9
  )
),
rep AS (
  SELECT doc_id, COUNT(*) AS kc,
         string_agg(t, ' ' ORDER BY p) AS repaired
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.tk) AS BIGINT) AS n_tokens,
       CAST(COALESCE(r.kc, 0) AS BIGINT) AS kept_tokens,
       CAST(len(d.tk) - COALESCE(r.kc, 0) AS BIGINT) AS removed_tokens,
       COALESCE(r.repaired, '') AS repaired
FROM d LEFT JOIN rep r USING (doc_id)
ORDER BY d.doc_id
"""


# q239: keep-first excision — q231's CTE chain, but the dup set
# excludes each duplicated gram's globally-first occurrence
# (min (doc_id, pos), computed as a per-gram rank — rn = 1 is the
# elected canonical copy and survives; rn >= 2 loses and is cut).
ORACLES["q239_substring_excise_keepfirst"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
w AS (
  SELECT doc_id,
         unnest([{{'pos': i, 'gram': array_to_string(tk[i+1 : i+10], ' ')}}
                 for i in range(len(tk) - 10 + 1)]) AS s
  FROM d WHERE len(tk) >= 10
),
g AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM w),
r AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY gram) AS n,
         ROW_NUMBER() OVER (PARTITION BY gram
                            ORDER BY doc_id, pos) AS rn
  FROM g
),
dup AS (SELECT doc_id, pos FROM r WHERE n >= 2 AND rn >= 2),
toks AS (
  SELECT doc_id, u.p AS p, u.t AS t FROM (
    SELECT doc_id,
           unnest([{{'p': i, 't': tk[i+1]}} for i in range(len(tk))]) AS u
    FROM d
  )
),
kept AS (
  SELECT tt.doc_id, tt.p, tt.t
  FROM toks tt
  WHERE NOT EXISTS (
    SELECT 1 FROM dup x
    WHERE x.doc_id = tt.doc_id AND tt.p BETWEEN x.pos AND x.pos + 9
  )
),
rep AS (
  SELECT doc_id, COUNT(*) AS kc,
         string_agg(t, ' ' ORDER BY p) AS repaired
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.tk) AS BIGINT) AS n_tokens,
       CAST(COALESCE(r.kc, 0) AS BIGINT) AS kept_tokens,
       CAST(len(d.tk) - COALESCE(r.kc, 0) AS BIGINT) AS removed_tokens,
       COALESCE(r.repaired, '') AS repaired
FROM d LEFT JOIN rep r USING (doc_id)
ORDER BY d.doc_id
"""


def _bpe_train_oracle(n_merges: int = 8) -> str:
    """Unrolled-iteration oracle for q227 (the q178 idiom applied to
    BPE): the identical N trainer iterations as chained CTEs — word
    census once, then per step a pair census over the wrapped-symbol
    vocab, the deterministic argmax (count desc, left, right), and
    the literal-replace merge. Symbol wrappers chr(1)/chr(2) make
    cross-boundary matches impossible and give replace() exactly
    BPE's greedy left-to-right non-overlapping within-word order
    (operators/text.py::bpe_train documents the contract)."""
    parts = [f"""WITH v0 AS (
  SELECT array_to_string([chr(1)||c||chr(2) for c in string_split(w, '')], '') AS s,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKS}) AS w FROM documents)
  GROUP BY w
)"""]
    for k in range(1, n_merges + 1):
        parts.append(f""",
p{k} AS (
  SELECT pr.l AS l, pr.r AS r, CAST(SUM(cnt) AS BIGINT) AS n
  FROM (
    SELECT cnt,
           unnest([{{'l': syms[i+1], 'r': syms[i+2]}}
                   for i in range(len(syms) - 1)]) AS pr
    FROM (SELECT string_split(substr(s, 2, length(s) - 2), chr(2)||chr(1)) AS syms, cnt
          FROM v{k-1})
  )
  GROUP BY pr.l, pr.r
),
b{k} AS (SELECT l, r, n FROM p{k} ORDER BY n DESC, l, r LIMIT 1),
v{k} AS (
  SELECT replace(s, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2),
                 chr(1)||b.l||b.r||chr(2)) AS s, cnt
  FROM v{k-1}, b{k} b
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, "
        f"l||r AS merged, n AS pair_count FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return "".join(parts) + "\nSELECT * FROM (\n" + union + "\n) ORDER BY step"


ORACLES["q227_bpe_train"] = _bpe_train_oracle(8)

# q228: the composed ANN stack — quantization (q223's CTEs), centroid
# routing with nprobe=2 (q26's), int8 shortlist within routed cells
# (zero vectors excluded), exact rerank of the shortlist, plus the
# cell-exact and global-exact audit legs.
ORACLES["q228_ivf_int8_rerank"] = f"""
WITH base AS (
  SELECT vec_id AS id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
scaled AS (
  SELECT id, x, list_max(list_transform(x, v -> abs(v))) AS s FROM base
),
qv AS (
  SELECT id,
         CASE WHEN s = 0 THEN list_transform(x, v -> 0)
              ELSE list_transform(x, v -> CAST(GREATEST(-127.0,
                     LEAST(127.0, floor(v * 127.0 / s))) AS INT))
         END AS qvec
  FROM scaled
),
ex AS (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
              generate_subscripts(embedding, 1) AS pos
       FROM embeddings),
cent AS (SELECT label, pos, ROUND(AVG(v), 6) AS c FROM ex GROUP BY label, pos),
carr AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
q AS (SELECT vec_id AS query_id, embedding AS qvf FROM embeddings WHERE vec_id < 10),
routed AS (
  SELECT query_id, probe_label FROM (
    SELECT q.query_id, carr.label AS probe_label,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY ROUND({_cos('q.qvf', 'carr.centroid')}, 6) DESC,
                      carr.label) AS crank
    FROM q, carr)
  WHERE crank <= 2
),
qq AS (SELECT id AS query_id, qvec AS q_qv FROM qv WHERE id < 10),
cells AS (
  SELECT qv.id, e.label AS probe_label, qv.qvec,
         list_sum(list_transform(range(1, len(qv.qvec) + 1),
           i -> CAST(qv.qvec[i] AS BIGINT) * qv.qvec[i])) AS c_nn
  FROM qv JOIN embeddings e ON e.vec_id = qv.id
),
cand AS (
  SELECT r.query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, len(qq.q_qv) + 1),
           i -> CAST(qq.q_qv[i] AS BIGINT) * c.qvec[i])) AS qdot,
         c.c_nn
  FROM routed r
  JOIN cells c ON c.probe_label = r.probe_label
  JOIN qq ON qq.query_id = r.query_id
  WHERE c.id <> r.query_id AND c.c_nn > 0
),
shortl AS (
  SELECT query_id, neighbor_id, qdot, n_candidates FROM (
    SELECT query_id, neighbor_id, qdot,
           COUNT(*) OVER (PARTITION BY query_id) AS n_candidates,
           row_number() OVER (PARTITION BY query_id
             ORDER BY CAST(qdot AS DOUBLE) / sqrt(CAST(c_nn AS DOUBLE))
                      DESC, neighbor_id) AS srank
    FROM cand)
  WHERE srank <= 32
),
rr AS (
  SELECT query_id, neighbor_id, n_candidates, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM (
    SELECT s.query_id, s.neighbor_id, s.n_candidates,
           ROUND({_cos('q.qvf', 'e.embedding')}, 6) AS cos
    FROM shortl s
    JOIN q ON q.query_id = s.query_id
    JOIN embeddings e ON e.vec_id = s.neighbor_id)
),
out5 AS (SELECT * FROM rr WHERE rank <= 5),
cellx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT r.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY r.query_id
             ORDER BY ROUND({_cos('q.qvf', 'e.embedding')}, 6) DESC,
                      e.vec_id) AS xrank
    FROM routed r
    JOIN q ON q.query_id = r.query_id
    JOIN embeddings e ON e.label = r.probe_label AND e.vec_id <> r.query_id)
  WHERE xrank <= 5
),
globx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY ROUND({_cos('q.qvf', 'e.embedding')}, 6) DESC,
                      e.vec_id) AS grank
    FROM q, embeddings e WHERE e.vec_id <> q.query_id)
  WHERE grank <= 5
),
ch AS (
  SELECT o.query_id,
         SUM(CASE WHEN cx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS cell_hits
  FROM out5 o LEFT JOIN cellx cx
    ON cx.query_id = o.query_id AND cx.neighbor_id = o.neighbor_id
  GROUP BY o.query_id
),
gh AS (
  SELECT o.query_id,
         SUM(CASE WHEN gx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS global_hits
  FROM out5 o LEFT JOIN globx gx
    ON gx.query_id = o.query_id AND gx.neighbor_id = o.neighbor_id
  GROUP BY o.query_id
),
t1 AS (
  SELECT query_id, neighbor_id AS top1_id, cos AS top1_cos, n_candidates
  FROM rr WHERE rank = 1
),
nc AS (SELECT COUNT(*) AS n FROM embeddings)
SELECT t1.query_id,
       CAST(t1.n_candidates AS BIGINT) AS n_candidates,
       t1.n_candidates * 2 < nc.n AS pruned_ok,
       t1.top1_id,
       t1.top1_cos,
       CAST(ch.cell_hits AS BIGINT) AS cell_hits,
       ch.cell_hits >= 4 AS cell_recall_ok,
       CAST(gh.global_hits AS BIGINT) AS global_hits
FROM t1 JOIN ch ON ch.query_id = t1.query_id
JOIN gh ON gh.query_id = t1.query_id
CROSS JOIN nc
"""


def _pq_kmeans_ann_oracle(iters: int = 2, train: int = 256) -> str:
    """q242: the q224 CTE chain run TWICE — once on the sampled
    codebook, once on the Lloyd-trained one — with the training
    trajectory unrolled (the q178 iterative idiom): per iteration an
    assignment CTE (argmin d2, lowest-cent ties) over the bounded
    sample and an update CTE (ROUND(AVG, 6) per (sub, cent, dim),
    empty clusters coalesced to the previous centroid)."""
    d2 = ("list_sum(list_transform(range(1, 9), "
          "i -> (sv[i] - cv[i]) * (sv[i] - cv[i])))")
    parts = [f"""WITH base AS (
  SELECT vec_id AS id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
subs AS (
  SELECT id, s.s AS sub, list_slice(x, s.s * 8 + 1, s.s * 8 + 8) AS sv
  FROM base, (SELECT unnest(range(0, 8)) AS s) s
),
cb0 AS (
  SELECT CAST(id AS INT) AS cent, sub, sv AS cv FROM subs WHERE id < 64
),
ssubs AS (SELECT id, sub, sv FROM subs WHERE id < {train})"""]
    for k in range(1, iters + 1):
        parts.append(f""",
a{k} AS (
  SELECT id, sub, cent FROM (
    SELECT s.id, s.sub, c.cent,
           row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
             {d2} ASC, c.cent ASC) AS rn
    FROM ssubs s JOIN cb{k-1} c USING (sub))
  WHERE rn = 1
),
u{k} AS (
  SELECT a.sub, a.cent, d.i AS pos, ROUND(AVG(s.sv[d.i]), 6) AS c
  FROM a{k} a
  JOIN ssubs s ON s.id = a.id AND s.sub = a.sub,
       (SELECT unnest(range(1, 9)) AS i) d
  GROUP BY a.sub, a.cent, d.i
),
cb{k} AS (
  SELECT p.cent, p.sub, COALESCE(n.cv, p.cv) AS cv
  FROM cb{k-1} p LEFT JOIN (
    SELECT sub, cent, list(c ORDER BY pos) AS cv
    FROM u{k} GROUP BY sub, cent) n
  ON n.sub = p.sub AND n.cent = p.cent
)""")
    # the q224 retrieval chain, parameterized by codebook CTE name
    def chain(cb: str, tag: str) -> str:
        return f""",
assign_{tag} AS (
  SELECT id, sub, cent,
         row_number() OVER (PARTITION BY id, sub ORDER BY
           {d2} ASC, cent ASC) AS rn
  FROM subs JOIN {cb} USING (sub)
),
codes_{tag} AS (
  SELECT id, list(cent ORDER BY sub) AS codes
  FROM assign_{tag} WHERE rn = 1 GROUP BY id
),
lutr_{tag} AS (
  SELECT q.id AS query_id, q.sub, c.cent,
         list_sum(list_transform(range(1, 9), i -> q.sv[i] * c.cv[i]))
           AS pdot
  FROM subs q JOIN {cb} c USING (sub)
  WHERE q.id >= 300 AND q.id < 310
),
lut_{tag} AS (
  SELECT query_id, list(arr ORDER BY sub) AS lut FROM (
    SELECT query_id, sub, list(pdot ORDER BY cent) AS arr
    FROM lutr_{tag} GROUP BY query_id, sub)
  GROUP BY query_id
),
scored_{tag} AS (
  SELECT query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> lut[i][codes[i] + 1])) AS adc
  FROM codes_{tag} c, lut_{tag} WHERE query_id <> c.id
),
short_{tag} AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc DESC, neighbor_id) AS rank
        FROM scored_{tag})
  WHERE rank <= 50
),
final_{tag} AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, neighbor_id) AS rank
  FROM (
    SELECT s.query_id, s.neighbor_id,
           ROUND({_cos('qv.qvf', 'c.cvf')}, 6) AS cos
    FROM short_{tag} s
    JOIN (SELECT vec_id, embedding AS cvf FROM embeddings) c
      ON s.neighbor_id = c.vec_id
    JOIN qv ON s.query_id = qv.query_id)
),
f5_{tag} AS (SELECT * FROM final_{tag} WHERE rank <= 5),
hits_{tag} AS (
  SELECT a.query_id,
         CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS hits
  FROM f5_{tag} a LEFT JOIN exact5 e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id
)"""
    shared = f""",
qv AS (SELECT vec_id AS query_id, embedding AS qvf
       FROM embeddings WHERE vec_id >= 300 AND vec_id < 310),
fc AS (SELECT vec_id AS neighbor_id, embedding AS cvf FROM embeddings),
exact5 AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY ROUND({_cos('qv.qvf', 'fc.cvf')}, 6) DESC,
                          neighbor_id) AS rank
        FROM qv, fc WHERE query_id <> neighbor_id)
  WHERE rank <= 5
)"""
    tail = f"""
SELECT t.query_id,
       t.hits AS hits_trained,
       s.hits AS hits_sampled,
       t1.top1_trained,
       t1.top1_cos,
       rt.recall50_trained,
       rs.recall50_sampled,
       rt.recall50_trained >= rs.recall50_sampled AS trained_not_worse
FROM hits_t t
JOIN hits_s s ON s.query_id = t.query_id
JOIN (SELECT query_id, neighbor_id AS top1_trained, cos AS top1_cos
      FROM f5_t WHERE rank = 1) t1 ON t1.query_id = t.query_id
CROSS JOIN (SELECT CAST(SUM(hits) AS BIGINT) AS recall50_trained
            FROM hits_t) rt
CROSS JOIN (SELECT CAST(SUM(hits) AS BIGINT) AS recall50_sampled
            FROM hits_s) rs
ORDER BY t.query_id
"""
    return ("".join(parts) + shared + chain(f"cb{iters}", "t")
            + chain("cb0", "s") + tail)


ORACLES["q242_pq_kmeans_ann"] = _pq_kmeans_ann_oracle(2, 256)


# q235: IVF-PQ — q228's routing CTEs in front of q224's codebook /
# codes / LUT CTEs; ADC scores only routed-cell rows (the list_sum
# fold q224 proved bit-compatible), shortlist 32, exact rerank,
# census-derived n_candidates, and the aggregate recall pin.
ORACLES["q235_ivf_pq_rerank"] = f"""
WITH base AS (
  SELECT vec_id AS id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
subs AS (
  SELECT id, s.s AS sub, list_slice(x, s.s * 8 + 1, s.s * 8 + 8) AS sv
  FROM base, (SELECT unnest(range(0, 8)) AS s) s
),
cents AS (
  SELECT CAST(id AS INT) AS cent, sub, sv AS cv FROM subs WHERE id < 64
),
assign AS (
  SELECT id, sub, cent,
         row_number() OVER (PARTITION BY id, sub ORDER BY
           list_sum(list_transform(range(1, 9),
             i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) ASC, cent ASC
         ) AS rn
  FROM subs JOIN cents USING (sub)
),
codes AS (
  SELECT id, list(cent ORDER BY sub) AS codes
  FROM assign WHERE rn = 1 GROUP BY id
),
ex AS (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
              generate_subscripts(embedding, 1) AS pos
       FROM embeddings),
cent AS (SELECT label, pos, ROUND(AVG(v), 6) AS c FROM ex GROUP BY label, pos),
carr AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
q AS (SELECT vec_id AS query_id, embedding AS qvf FROM embeddings WHERE vec_id < 10),
routed AS (
  SELECT query_id, probe_label FROM (
    SELECT q.query_id, carr.label AS probe_label,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY ROUND({_cos('q.qvf', 'carr.centroid')}, 6) DESC,
                      carr.label) AS crank
    FROM q, carr)
  WHERE crank <= 2
),
qsubs AS (SELECT id AS query_id, sub, sv FROM subs WHERE id < 10),
lut_rows AS (
  SELECT query_id, sub, cent,
         list_sum(list_transform(range(1, 9), i -> sv[i] * cv[i]))
           AS pdot
  FROM qsubs JOIN cents USING (sub)
),
per_sub AS (
  SELECT query_id, sub, list(pdot ORDER BY cent) AS arr
  FROM lut_rows GROUP BY query_id, sub
),
lut AS (
  SELECT query_id, list(arr ORDER BY sub) AS lut
  FROM per_sub GROUP BY query_id
),
lab AS (SELECT vec_id AS id, label FROM embeddings),
scored AS (
  SELECT l.query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> l.lut[i][c.codes[i] + 1])) AS adc
  FROM lut l
  JOIN routed r ON r.query_id = l.query_id
  JOIN lab ON lab.label = r.probe_label
  JOIN codes c ON c.id = lab.id
  WHERE c.id <> l.query_id
),
short AS (
  SELECT query_id, neighbor_id, adc
  FROM (SELECT query_id, neighbor_id, adc,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc DESC, neighbor_id) AS srank
        FROM scored)
  WHERE srank <= 32
),
rr AS (
  SELECT query_id, neighbor_id, adc, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM (
    SELECT s.query_id, s.neighbor_id, s.adc,
           ROUND({_cos('q.qvf', 'e.embedding')}, 6) AS cos
    FROM short s
    JOIN q ON q.query_id = s.query_id
    JOIN embeddings e ON e.vec_id = s.neighbor_id)
),
out5 AS (SELECT * FROM rr WHERE rank <= 5),
csz AS (SELECT label, COUNT(*) AS csz FROM embeddings GROUP BY label),
ncand AS (
  SELECT r.query_id,
         CAST(SUM(csz.csz)
              - SUM(CASE WHEN ql.label = r.probe_label THEN 1 ELSE 0 END)
           AS BIGINT) AS n_candidates
  FROM routed r
  JOIN csz ON csz.label = r.probe_label
  JOIN lab ql ON ql.id = r.query_id
  GROUP BY r.query_id
),
cellx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT r.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY r.query_id
             ORDER BY ROUND({_cos('q.qvf', 'e.embedding')}, 6) DESC,
                      e.vec_id) AS xrank
    FROM routed r
    JOIN q ON q.query_id = r.query_id
    JOIN embeddings e ON e.label = r.probe_label AND e.vec_id <> r.query_id)
  WHERE xrank <= 5
),
ch AS (
  SELECT o.query_id,
         SUM(CASE WHEN cx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS cell_hits
  FROM out5 o LEFT JOIN cellx cx
    ON cx.query_id = o.query_id AND cx.neighbor_id = o.neighbor_id
  GROUP BY o.query_id
),
t1 AS (
  SELECT query_id, neighbor_id AS top1_id, cos AS top1_cos
  FROM rr WHERE rank = 1
),
nc AS (SELECT COUNT(*) AS n FROM embeddings),
th AS (SELECT CAST(SUM(cell_hits) AS BIGINT) AS recall50 FROM ch)
SELECT t1.query_id,
       ncand.n_candidates,
       ncand.n_candidates * 2 < nc.n AS pruned_ok,
       t1.top1_id,
       t1.top1_cos,
       CAST(ch.cell_hits AS BIGINT) AS cell_hits,
       ch.cell_hits >= 1 AS cell_floor_ok,
       th.recall50,
       th.recall50 >= 40 AS recall_ok
FROM t1 JOIN ch ON ch.query_id = t1.query_id
JOIN ncand ON ncand.query_id = t1.query_id
CROSS JOIN nc CROSS JOIN th
"""


def _bpe_census_oracle(n_merges: int = 8, topk: int = 20) -> str:
    """q229: the q227 unrolled chain, then the symbol census over the
    final vocab — the encode side of the trainer in SQL."""
    train = _bpe_train_oracle(n_merges)
    # keep only the CTE chain (drop the merge-table SELECT tail)
    chain = train[: train.index("\nSELECT * FROM (")]
    return chain + f"""
SELECT rank, symbol, n_occurrences,
       CAST(length(symbol) AS INT) AS sym_len
FROM (
  SELECT symbol, n_occurrences,
         CAST(row_number() OVER (ORDER BY n_occurrences DESC, symbol)
              AS INT) AS rank
  FROM (
    SELECT sym AS symbol, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
    FROM (
      SELECT cnt,
             unnest(string_split(substr(s, 2, length(s) - 2),
                                 chr(2)||chr(1))) AS sym
      FROM v{n_merges})
    GROUP BY sym))
WHERE rank <= {topk}
ORDER BY rank
"""


ORACLES["q229_bpe_segment_census"] = _bpe_census_oracle(8, 20)


def _bpe_vocab_id_ctes(n_merges: int) -> str:
    """Shared CTE tail for q232/q233: base-char census over the word
    vocab (v0 with the chr(1)/chr(2) wrappers stripped), merge-symbol
    dedup by first step, and the deterministic id assignment — base
    chars sorted get 0..B-1, merges in step order get B, B+1, ...
    (operators/text.py::_bpe_ids documents the scheme)."""
    merges_union = "\n    UNION ALL ".join(
        f"SELECT {k} AS step, l||r AS merged FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return f""",
base AS (
  SELECT DISTINCT unnest(string_split(
    replace(replace(s, chr(1), ''), chr(2), ''), '')) AS symbol
  FROM v0
),
base_ids AS (
  SELECT CAST(row_number() OVER (ORDER BY symbol) - 1 AS INT) AS token_id,
         symbol, 'base' AS kind
  FROM base
),
mm AS (
  SELECT merged AS symbol, MIN(step) AS step
  FROM ({merges_union})
  GROUP BY merged
),
nb AS (SELECT COUNT(*) AS b FROM base),
merge_ids AS (
  SELECT CAST(b - 1 + row_number() OVER (ORDER BY step) AS INT) AS token_id,
         symbol, 'merged' AS kind
  FROM mm, nb
),
sym_ids AS (
  SELECT token_id, symbol, kind FROM base_ids
  UNION ALL
  SELECT token_id, symbol, kind FROM merge_ids
)"""


def _bpe_vocab_oracle(n_merges: int = 8) -> str:
    """q232: the unrolled trainer chain, then the vocab/id table."""
    train = _bpe_train_oracle(n_merges)
    chain = train[: train.index("\nSELECT * FROM (")]
    return chain + _bpe_vocab_id_ctes(n_merges) + """
SELECT token_id, symbol, kind FROM sym_ids ORDER BY token_id
"""


ORACLES["q232_bpe_vocab_export"] = _bpe_vocab_oracle(8)


def _bpe_pack_oracle(n_merges: int = 8, seq_len: int = 2048) -> str:
    """q233: encode every doc to token ids through the final vocab's
    per-word segmentation (v{n}'s symbols ARE the trained encode of
    each distinct word), then q94's offset-derived packing over the
    id sequences, with a per-bin sum-of-ids checksum."""
    train = _bpe_train_oracle(n_merges)
    chain = train[: train.index("\nSELECT * FROM (")]
    return chain + _bpe_vocab_id_ctes(n_merges) + f""",
enc AS (
  SELECT array_to_string(syms, '') AS word, u.i AS i, u.sym AS sym
  FROM (
    SELECT syms, unnest([{{'i': i, 'sym': syms[i+1]}}
                         for i in range(len(syms))]) AS u
    FROM (SELECT string_split(substr(s, 2, length(s) - 2),
                              chr(2)||chr(1)) AS syms
          FROM v{n_merges})
  )
),
wids AS (
  SELECT word, list(token_id ORDER BY i) AS ids
  FROM enc JOIN sym_ids ON enc.sym = sym_ids.symbol
  GROUP BY word
),
dt AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
dtoks AS (
  SELECT doc_id, lang, u.p AS p, u.w AS w
  FROM (SELECT doc_id, lang,
               unnest([{{'p': i, 'w': tk[i+1]}} for i in range(len(tk))]) AS u
        FROM dt)
),
docids AS (
  SELECT doc_id, lang, flatten(list(ids ORDER BY p)) AS ids
  FROM dtoks JOIN wids ON dtoks.w = wids.word
  GROUP BY doc_id, lang
),
per AS (
  SELECT doc_id, lang, len(ids) AS n_ids,
         CAST(list_sum(ids) AS BIGINT) AS ck
  FROM docids
),
binned AS (
  SELECT lang, n_ids, ck,
         CAST(FLOOR((SUM(n_ids) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_ids)
              / {seq_len}.0) AS BIGINT) AS bin_id
  FROM per
)
SELECT lang, bin_id, COUNT(*) AS n_docs,
       CAST(SUM(n_ids) AS BIGINT) AS bin_ids,
       CAST(SUM(ck) AS BIGINT) AS ids_checksum
FROM binned GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


ORACLES["q233_bpe_encode_pack"] = _bpe_pack_oracle(8, 2048)


def _substr_stream_wd_ctes(n_slices: int, L: int, salt: str) -> list:
    """Shared w{s}/d{s} CTEs of the streaming substring twins
    (q230 span stats, q236 excision): per slice the hashed windows,
    and the DUPLICATED window starts under the at-arrival contract —
    gram hash occurs >= 2 times WITHIN slice s, or at all in slices
    < s (60-bit md5 of salt||gram, identical to
    streaming/substrdedup.py, so parity is exact by construction)."""
    ctes = []
    for s in range(n_slices):
        ctes.append(f"""w{s} AS (
  SELECT doc_id, n_tokens, st.pos AS pos,
         CAST('0x' || substr(md5('{salt}' || st.gram), 1, 15) AS BIGINT) AS gh
  FROM (
    SELECT doc_id, len(tk) AS n_tokens,
           unnest([{{'pos': i, 'gram': array_to_string(tk[i+1 : i+{L}], ' ')}}
                   for i in range(len(tk) - {L} + 1)]) AS st
    FROM (SELECT doc_id, {_TOKS} AS tk FROM documents
          WHERE doc_id % {n_slices} = {s})
    WHERE len(tk) >= {L}
  )
)""")
    for s in range(n_slices):
        prior = " UNION ".join(f"SELECT gh FROM w{i}" for i in range(s))
        prior_leg = f" OR gh IN ({prior})" if prior else ""
        ctes.append(f"""d{s} AS (
  SELECT doc_id, n_tokens, pos FROM w{s}
  WHERE gh IN (SELECT gh FROM w{s} GROUP BY gh HAVING COUNT(*) >= 2)
        {prior_leg}
)""")
    return ctes


def _substr_stream_oracle(n_slices: int = 3, L: int = 10,
                          salt: str = "ssd-v1") -> str:
    """q230: per-slice prefix replay of the streaming span detector
    (the shared w/d CTEs, then the interval merge per slice)."""
    wd = _substr_stream_wd_ctes(n_slices, L, salt)
    s_cte = []
    for s in range(n_slices):
        s_cte.append(f"""b{s} AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {L}
              THEN 1 ELSE 0 END AS brk
  FROM d{s}
),
i{s} AS (
  SELECT doc_id, n_tokens, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM b{s}
),
sp{s} AS (
  SELECT doc_id, n_tokens, island,
         MAX(pos) - MIN(pos) + {L} AS span_len
  FROM i{s} GROUP BY doc_id, n_tokens, island
),
o{s} AS (
  SELECT CAST({s} AS INT) AS slice, doc_id,
         COUNT(*) AS n_spans,
         CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
         CAST(MAX(span_len) AS BIGINT) AS max_span,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         ROUND(CAST(SUM(span_len) AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
           AS dup_ratio
  FROM sp{s} GROUP BY doc_id, n_tokens
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM o{s}" for s in range(n_slices)
    )
    return (
        "WITH "
        + ",\n".join(wd + s_cte)
        + "\nSELECT * FROM (\n" + union + "\n) ORDER BY slice, doc_id"
    )


ORACLES["q230_streaming_substr_dedup"] = _substr_stream_oracle(3, 10)


def _substr_stream_excise_oracle(n_slices: int = 3, L: int = 10,
                                 salt: str = "ssd-v1") -> str:
    """q236: the shared w/d prefix-replay CTEs, then per slice the
    EXCISION — every token position covered by an at-arrival
    duplicated window start is dropped, survivors re-joined in
    position order; every slice doc returned (the q231 tail applied
    per slice)."""
    wd = _substr_stream_wd_ctes(n_slices, L, salt)
    e_cte = []
    for s in range(n_slices):
        e_cte.append(f"""dd{s} AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
  WHERE doc_id % {n_slices} = {s}
),
tk{s} AS (
  SELECT doc_id, u.p AS p, u.t AS t FROM (
    SELECT doc_id,
           unnest([{{'p': i, 't': tk[i+1]}} for i in range(len(tk))]) AS u
    FROM dd{s}
  )
),
r{s} AS (
  SELECT CAST({s} AS INT) AS slice, d.doc_id,
         CAST(len(d.tk) AS BIGINT) AS n_tokens,
         CAST(COALESCE(k.kc, 0) AS BIGINT) AS kept_tokens,
         CAST(len(d.tk) - COALESCE(k.kc, 0) AS BIGINT) AS removed_tokens,
         COALESCE(k.repaired, '') AS repaired
  FROM dd{s} d LEFT JOIN (
    SELECT doc_id, COUNT(*) AS kc,
           string_agg(t, ' ' ORDER BY p) AS repaired
    FROM tk{s} tt
    WHERE NOT EXISTS (
      SELECT 1 FROM d{s} x
      WHERE x.doc_id = tt.doc_id AND tt.p BETWEEN x.pos AND x.pos + {L - 1}
    )
    GROUP BY doc_id
  ) k ON k.doc_id = d.doc_id
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM r{s}" for s in range(n_slices)
    )
    return (
        "WITH "
        + ",\n".join(wd + e_cte)
        + "\nSELECT * FROM (\n" + union + "\n) ORDER BY slice, doc_id"
    )


ORACLES["q236_streaming_substr_excise"] = _substr_stream_excise_oracle(3, 10)

# q238: streaming PQ-index ingest — codebook frozen from the
# bootstrap slice's 64 lowest ids (densely re-indexed by id rank),
# the q224 assignment/LUT idioms, then per slice the ADC top-3 over
# the PREFIX code store plus its size.
ORACLES["q238_streaming_pq_index"] = f"""
WITH base AS (
  SELECT vec_id AS id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
subs AS (
  SELECT id, s.s AS sub, list_slice(x, s.s * 8 + 1, s.s * 8 + 8) AS sv
  FROM base, (SELECT unnest(range(0, 8)) AS s) s
),
bootr AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cent
  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0
        ORDER BY vec_id LIMIT 64)
),
cents AS (
  SELECT br.cent, s.sub, s.sv AS cv
  FROM bootr br JOIN subs s ON s.id = br.vec_id
),
assign AS (
  SELECT id, sub, cent,
         row_number() OVER (PARTITION BY id, sub ORDER BY
           list_sum(list_transform(range(1, 9),
             i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) ASC, cent ASC
         ) AS rn
  FROM subs JOIN cents USING (sub)
),
codes AS (
  SELECT id, list(cent ORDER BY sub) AS codes
  FROM assign WHERE rn = 1 GROUP BY id
),
qsubs AS (SELECT id AS query_id, sub, sv FROM subs WHERE id < 10),
lut_rows AS (
  SELECT query_id, sub, cent,
         list_sum(list_transform(range(1, 9), i -> sv[i] * cv[i]))
           AS pdot
  FROM qsubs JOIN cents USING (sub)
),
per_sub AS (
  SELECT query_id, sub, list(pdot ORDER BY cent) AS arr
  FROM lut_rows GROUP BY query_id, sub
),
lut AS (
  SELECT query_id, list(arr ORDER BY sub) AS lut
  FROM per_sub GROUP BY query_id
),
sc0 AS (
  SELECT l.query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> l.lut[i][c.codes[i] + 1])) AS adc
  FROM lut l, codes c WHERE c.id % 3 <= 0 AND c.id <> l.query_id
),
sc1 AS (
  SELECT l.query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> l.lut[i][c.codes[i] + 1])) AS adc
  FROM lut l, codes c WHERE c.id % 3 <= 1 AND c.id <> l.query_id
),
sc2 AS (
  SELECT l.query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> l.lut[i][c.codes[i] + 1])) AS adc
  FROM lut l, codes c WHERE c.id % 3 <= 2 AND c.id <> l.query_id
),
n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed FROM codes WHERE id % 3 <= 0),
n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed FROM codes WHERE id % 3 <= 1),
n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed FROM codes WHERE id % 3 <= 2),
o0 AS (
  SELECT CAST(0 AS INT) AS slice, query_id, neighbor_id, adc,
         CAST(rank AS INT) AS rank, n_indexed
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, neighbor_id) AS rank FROM sc0), n0
  WHERE rank <= 3
),
o1 AS (
  SELECT CAST(1 AS INT) AS slice, query_id, neighbor_id, adc,
         CAST(rank AS INT) AS rank, n_indexed
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, neighbor_id) AS rank FROM sc1), n1
  WHERE rank <= 3
),
o2 AS (
  SELECT CAST(2 AS INT) AS slice, query_id, neighbor_id, adc,
         CAST(rank AS INT) AS rank, n_indexed
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, neighbor_id) AS rank FROM sc2), n2
  WHERE rank <= 3
)
SELECT * FROM (
  SELECT * FROM o0 UNION ALL SELECT * FROM o1 UNION ALL SELECT * FROM o2
) ORDER BY slice, query_id, rank
"""

# q240: IVF-routed streaming PQ index — the q238 frozen-codebook
# CTEs, plus frozen IVF centroids (8 lowest slice-0 ids), the
# 6dp-cosine cell assignment for every vector, per-query nprobe=2
# routing, and per-slice-prefix ADC scoring restricted to routed
# cells with the scanned-mass census (self included: it is scanned,
# then excluded from scoring).
ORACLES["q240_streaming_ivf_pq_index"] = f"""
WITH base AS (
  SELECT vec_id AS id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
subs AS (
  SELECT id, s.s AS sub, list_slice(x, s.s * 8 + 1, s.s * 8 + 8) AS sv
  FROM base, (SELECT unnest(range(0, 8)) AS s) s
),
bootr AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cent
  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0
        ORDER BY vec_id LIMIT 64)
),
cents AS (
  SELECT br.cent, s.sub, s.sv AS cv
  FROM bootr br JOIN subs s ON s.id = br.vec_id
),
assign AS (
  SELECT id, sub, cent,
         row_number() OVER (PARTITION BY id, sub ORDER BY
           list_sum(list_transform(range(1, 9),
             i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) ASC, cent ASC
         ) AS rn
  FROM subs JOIN cents USING (sub)
),
codes AS (
  SELECT id, list(cent ORDER BY sub) AS codes
  FROM assign WHERE rn = 1 GROUP BY id
),
bootc AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0
        ORDER BY vec_id LIMIT 8)
),
centv AS (
  SELECT bc.cell, b.x AS cv FROM bootc bc JOIN base b ON b.id = bc.vec_id
),
cellof AS (
  SELECT id, cell FROM (
    SELECT b.id, c.cell,
           row_number() OVER (PARTITION BY b.id
             ORDER BY ROUND({_cos('b.x', 'c.cv')}, 6) DESC, c.cell) AS rn
    FROM base b, centv c)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qvf FROM embeddings
      WHERE vec_id < 10),
routedq AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY ROUND({_cos('q.qvf', 'c.cv')}, 6) DESC, c.cell)
             AS crank
    FROM q, centv c)
  WHERE crank <= 2
),
qsubs AS (SELECT id AS query_id, sub, sv FROM subs WHERE id < 10),
lut_rows AS (
  SELECT query_id, sub, cent,
         list_sum(list_transform(range(1, 9), i -> sv[i] * cv[i]))
           AS pdot
  FROM qsubs JOIN cents USING (sub)
),
per_sub AS (
  SELECT query_id, sub, list(pdot ORDER BY cent) AS arr
  FROM lut_rows GROUP BY query_id, sub
),
lut AS (
  SELECT query_id, list(arr ORDER BY sub) AS lut
  FROM per_sub GROUP BY query_id
),
sc0 AS (
  SELECT l.query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> l.lut[i][c.codes[i] + 1])) AS adc
  FROM lut l
  JOIN routedq r ON r.query_id = l.query_id
  JOIN cellof cf ON cf.cell = r.cell
  JOIN codes c ON c.id = cf.id
  WHERE c.id % 3 <= 0 AND c.id <> l.query_id
),
ns0 AS (
  SELECT r.query_id,
         CAST(SUM(COALESCE(cz.cnt, 0)) AS BIGINT) AS n_scanned
  FROM routedq r LEFT JOIN (
    SELECT cell, COUNT(*) AS cnt FROM cellof
    WHERE id % 3 <= 0 GROUP BY cell
  ) cz ON cz.cell = r.cell
  GROUP BY r.query_id
),
o0 AS (
  SELECT CAST(0 AS INT) AS slice, s.query_id, neighbor_id, adc,
         CAST(rank AS INT) AS rank, ns.n_scanned
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, neighbor_id) AS rank FROM sc0) s
  JOIN ns0 ns ON ns.query_id = s.query_id
  WHERE rank <= 3
),
sc1 AS (
  SELECT l.query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> l.lut[i][c.codes[i] + 1])) AS adc
  FROM lut l
  JOIN routedq r ON r.query_id = l.query_id
  JOIN cellof cf ON cf.cell = r.cell
  JOIN codes c ON c.id = cf.id
  WHERE c.id % 3 <= 1 AND c.id <> l.query_id
),
ns1 AS (
  SELECT r.query_id,
         CAST(SUM(COALESCE(cz.cnt, 0)) AS BIGINT) AS n_scanned
  FROM routedq r LEFT JOIN (
    SELECT cell, COUNT(*) AS cnt FROM cellof
    WHERE id % 3 <= 1 GROUP BY cell
  ) cz ON cz.cell = r.cell
  GROUP BY r.query_id
),
o1 AS (
  SELECT CAST(1 AS INT) AS slice, s.query_id, neighbor_id, adc,
         CAST(rank AS INT) AS rank, ns.n_scanned
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, neighbor_id) AS rank FROM sc1) s
  JOIN ns1 ns ON ns.query_id = s.query_id
  WHERE rank <= 3
),
sc2 AS (
  SELECT l.query_id, c.id AS neighbor_id,
         list_sum(list_transform(range(1, 9),
           i -> l.lut[i][c.codes[i] + 1])) AS adc
  FROM lut l
  JOIN routedq r ON r.query_id = l.query_id
  JOIN cellof cf ON cf.cell = r.cell
  JOIN codes c ON c.id = cf.id
  WHERE c.id % 3 <= 2 AND c.id <> l.query_id
),
ns2 AS (
  SELECT r.query_id,
         CAST(SUM(COALESCE(cz.cnt, 0)) AS BIGINT) AS n_scanned
  FROM routedq r LEFT JOIN (
    SELECT cell, COUNT(*) AS cnt FROM cellof
    WHERE id % 3 <= 2 GROUP BY cell
  ) cz ON cz.cell = r.cell
  GROUP BY r.query_id
),
o2 AS (
  SELECT CAST(2 AS INT) AS slice, s.query_id, neighbor_id, adc,
         CAST(rank AS INT) AS rank, ns.n_scanned
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, neighbor_id) AS rank FROM sc2) s
  JOIN ns2 ns ON ns.query_id = s.query_id
  WHERE rank <= 3
)
SELECT * FROM (
  SELECT * FROM o0 UNION ALL SELECT * FROM o1 UNION ALL SELECT * FROM o2
) ORDER BY slice, query_id, rank
"""

# q237: the curated corpus — q86's gate expressions filter, exact
# whole-doc dedup keeps the lowest doc_id per identical text, then
# the q231 excision CTEs run over the SURVIVORS (order pinned: a
# removed clone leaves no spans behind).
ORACLES["q237_curated_corpus"] = f"""
WITH d0 AS (SELECT doc_id, lang, text, {_TOKS} AS tk FROM documents),
gate AS (
  SELECT doc_id, lang, text, tk FROM d0 WHERE
    (len(tk) >= 30 AND len(tk) <= 5000)
    AND (CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE)
           / CAST(len(tk) AS DOUBLE) BETWEEN 2.5 AND 12.0)
    AND (CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it')))
              AS DOUBLE) / CAST(len(tk) AS DOUBLE) >= 0.02)
    AND COALESCE(
          CASE WHEN len(tk) >= 2 THEN
            1.0 - CAST(len(list_distinct([tk[i] || ' ' || tk[i+1]
                                          FOR i IN range(1, len(tk))])) AS DOUBLE)
                  / CAST(len(tk) - 1 AS DOUBLE)
          END <= 0.4, FALSE)
),
uniq AS (
  SELECT doc_id, lang, text, tk FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM gate
  ) WHERE rn = 1
),
w AS (
  SELECT doc_id,
         unnest([{{'pos': i, 'gram': array_to_string(tk[i+1 : i+10], ' ')}}
                 for i in range(len(tk) - 10 + 1)]) AS s
  FROM uniq WHERE len(tk) >= 10
),
g AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM w),
pc AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram),
dup AS (SELECT doc_id, pos FROM g JOIN pc USING (gram) WHERE pc.n >= 2),
toks AS (
  SELECT doc_id, u.p AS p, u.t AS t FROM (
    SELECT doc_id,
           unnest([{{'p': i, 't': tk[i+1]}} for i in range(len(tk))]) AS u
    FROM uniq
  )
),
kept AS (
  SELECT tt.doc_id, tt.p, tt.t
  FROM toks tt
  WHERE NOT EXISTS (
    SELECT 1 FROM dup x
    WHERE x.doc_id = tt.doc_id AND tt.p BETWEEN x.pos AND x.pos + 9
  )
),
rep AS (
  SELECT doc_id, COUNT(*) AS kc,
         string_agg(t, ' ' ORDER BY p) AS repaired
  FROM kept GROUP BY doc_id
)
SELECT u.doc_id,
       u.lang,
       CAST(len(u.tk) AS BIGINT) AS n_tokens_in,
       CAST(COALESCE(r.kc, 0) AS BIGINT) AS kept_tokens,
       CAST(len(u.tk) - COALESCE(r.kc, 0) AS BIGINT) AS removed_tokens,
       COALESCE(r.repaired, '') AS repaired
FROM uniq u LEFT JOIN rep r ON r.doc_id = u.doc_id
ORDER BY u.doc_id
"""

# q241: the curated corpus under KEEP-FIRST excision — q237's CTE
# chain with the dup set swapped for q239's per-gram rank election
# (rn = 1, the globally-first occurrence among the SURVIVING docs,
# keeps its text; rn >= 2 is cut).
ORACLES["q241_curated_corpus_keepfirst"] = f"""
WITH d0 AS (SELECT doc_id, lang, text, {_TOKS} AS tk FROM documents),
gate AS (
  SELECT doc_id, lang, text, tk FROM d0 WHERE
    (len(tk) >= 30 AND len(tk) <= 5000)
    AND (CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE)
           / CAST(len(tk) AS DOUBLE) BETWEEN 2.5 AND 12.0)
    AND (CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it')))
              AS DOUBLE) / CAST(len(tk) AS DOUBLE) >= 0.02)
    AND COALESCE(
          CASE WHEN len(tk) >= 2 THEN
            1.0 - CAST(len(list_distinct([tk[i] || ' ' || tk[i+1]
                                          FOR i IN range(1, len(tk))])) AS DOUBLE)
                  / CAST(len(tk) - 1 AS DOUBLE)
          END <= 0.4, FALSE)
),
uniq AS (
  SELECT doc_id, lang, text, tk FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM gate
  ) WHERE rn = 1
),
w AS (
  SELECT doc_id,
         unnest([{{'pos': i, 'gram': array_to_string(tk[i+1 : i+10], ' ')}}
                 for i in range(len(tk) - 10 + 1)]) AS s
  FROM uniq WHERE len(tk) >= 10
),
g AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM w),
rk AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY gram) AS n,
         ROW_NUMBER() OVER (PARTITION BY gram
                            ORDER BY doc_id, pos) AS rn
  FROM g
),
dup AS (SELECT doc_id, pos FROM rk WHERE n >= 2 AND rn >= 2),
toks AS (
  SELECT doc_id, u.p AS p, u.t AS t FROM (
    SELECT doc_id,
           unnest([{{'p': i, 't': tk[i+1]}} for i in range(len(tk))]) AS u
    FROM uniq
  )
),
kept AS (
  SELECT tt.doc_id, tt.p, tt.t
  FROM toks tt
  WHERE NOT EXISTS (
    SELECT 1 FROM dup x
    WHERE x.doc_id = tt.doc_id AND tt.p BETWEEN x.pos AND x.pos + 9
  )
),
rep AS (
  SELECT doc_id, COUNT(*) AS kc,
         string_agg(t, ' ' ORDER BY p) AS repaired
  FROM kept GROUP BY doc_id
)
SELECT u.doc_id,
       u.lang,
       CAST(len(u.tk) AS BIGINT) AS n_tokens_in,
       CAST(COALESCE(r.kc, 0) AS BIGINT) AS kept_tokens,
       CAST(len(u.tk) - COALESCE(r.kc, 0) AS BIGINT) AS removed_tokens,
       COALESCE(r.repaired, '') AS repaired
FROM uniq u LEFT JOIN rep r ON r.doc_id = u.doc_id
ORDER BY u.doc_id
"""
