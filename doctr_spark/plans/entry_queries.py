"""Driver-contract queries: each operator exposed as a (spark, sf_dir) ->
DataFrame callable with (where expressible) an exactly-equivalent DuckDB
SQL oracle.

Two oracle styles:
- kernel queries: fixed fixture inputs -> the Spark side runs the kernel
  inside mapInPandas (distributed), the oracle is a literal VALUES table of
  the published/spec-derived expected outputs; ``fixture_kernel`` builds
  both from one fixture table.
- relational queries: both sides compute the same derivation over the
  driver's parquet tables (lineitem/orders/events/documents/embeddings).

Column names/types are aligned on both sides; float outputs are rounded
identically before comparison.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession


# --------------------------------------------------------------- sql helpers


def sql_str(s: str) -> str:
    """DuckDB e-string literal for text that may contain newlines/quotes."""
    esc = s.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n")
    return f"e'{esc}'"


def values_oracle(rows: list[tuple], columns: list[tuple[str, str]]) -> str:
    """Build `SELECT CAST(...) ... FROM (VALUES ...)` oracle SQL.
    columns: [(name, duckdb_type)]; strings are e-string escaped."""
    rendered = []
    for row in rows:
        cells = []
        for v, (_, typ) in zip(row, columns):
            if v is None:
                cells.append("NULL")
            elif typ == "VARCHAR":
                cells.append(sql_str(str(v)))
            elif typ == "BIGINT":
                cells.append(str(int(v)))
            elif typ == "DOUBLE":
                cells.append(repr(float(v)))
            else:
                raise ValueError(typ)
        rendered.append("(" + ", ".join(cells) + ")")
    collist = ", ".join(name for name, _ in columns)
    casts = ", ".join(f"CAST({name} AS {typ}) AS {name}" for name, typ in columns)
    return f"SELECT {casts} FROM (VALUES {', '.join(rendered)}) AS t({collist})"


_SPARK_TYPES = {"BIGINT": "long", "VARCHAR": "string", "DOUBLE": "double"}


def fixture_kernel(kernel, args: list[tuple], columns: list[tuple[str, str]], expected: list[tuple]):
    """A kernel query and its oracle from one fixture table. The
    query ships each tuple of ``args`` as one JSON row, runs
    ``kernel(*args)`` per row inside mapInPandas (distributed) and emits
    the output rows it returns; the oracle is ``expected`` as a literal
    VALUES table. ``columns`` [(name, duckdb_type)] types both sides.
    Returns (query, oracle_sql)."""
    names = [name for name, _ in columns]
    schema = ", ".join(f"{name} {_SPARK_TYPES[typ]}" for name, typ in columns)

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        src = spark.createDataFrame([(json.dumps(a),) for a in args], "args string")

        def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = [r for a in pdf["args"] for r in kernel(*json.loads(a))]
                if rows:
                    yield pd.DataFrame(rows, columns=names)

        return src.mapInPandas(run, schema)

    return query, values_oracle(expected, columns)


# ================================================================ kernels ===

# ---- merge_strings (expected values published in the reference test suite:
#      tests/common/test_models_recognition_utils.py:6-31)
MERGE_FIXTURES = [
    ("abc", "def", "abcdef"),
    ("abcd", "def", "abcdef"),
    ("abcde", "def", "abcdef"),
    ("abcdef", "def", "abcdef"),
    ("abcccc", "cccccc", "abcccccccc"),
    ("abc", "", "abc"),
    ("", "abc", "abc"),
]


def _merge_kernel(a: str, b: str) -> list[tuple]:
    from ..operators.recognition import merge_strings

    return [(a, b, merge_strings(a, b, 1.4))]


q_merge_strings, MERGE_ORACLE = fixture_kernel(
    _merge_kernel,
    [(a, b) for a, b, _ in MERGE_FIXTURES],
    [("a", "VARCHAR"), ("b", "VARCHAR"), ("merged", "VARCHAR")],
    MERGE_FIXTURES,
)

# ---- CTC best-path decode (semantics: crnn ctc_best_path; fixture paths are
#      index sequences whose argmax path is forced one-hot)
CTC_FIXTURES = [
    # (case_id, index path with blank=-1, expected word) over vocab "HELO"
    (1, [0, 0, 1, -1, 2, 2, -1, 2, 3], "HELLO"),
    (2, [-1, -1, -1], ""),
    (3, [3, -1, 3, -1, 3], "OOO"),
    (4, [0, 1, 2, 3], "HELO"),
]
CTC_VOCAB = "HELO"


def _ctc_kernel(case_id: int, path: list[int]) -> list[tuple]:
    from ..operators.recognition import ctc_best_path

    blank = len(CTC_VOCAB)
    path = [blank if k < 0 else k for k in path]
    logits = np.full((len(path), blank + 1), 0.0)
    for t, k in enumerate(path):
        logits[t, k] = 8.0
    return [(case_id, ctc_best_path(logits, CTC_VOCAB)[0][0])]


q_ctc_decode, CTC_ORACLE = fixture_kernel(
    _ctc_kernel,
    [(cid, path) for cid, path, _ in CTC_FIXTURES],
    [("case_id", "BIGINT"), ("word", "VARCHAR")],
    [(cid, w) for cid, _, w in CTC_FIXTURES],
)

# ---- HTML main-content strip
HTML_FIXTURES = [
    (1, "<div>only</div>", "only"),
    (2, "<p>a</p><p>b</p>", "a\n\nb"),
    (3, "<p>one<br>two</p>", "one\ntwo"),
    (4, "<ul><li>x</li><li>y</li></ul>", "x\ny"),
    (5, "<div>Hi &amp; bye</div>", "Hi & bye"),
    (6, "<nav>menu</nav><header>h</header><p>content</p><footer>f</footer>", "content"),
    (7, "<div><script>var x=1;</script><style>p{}</style>keep</div>", "keep"),
    (8, "<!-- c --><p>spaced   words\n here</p><aside>ads</aside>", "spaced words here"),
    (9, "<p>a <b>bold</b> word</p>", "a bold word"),
    (10, "<html><head><title>t</title></head><body><div><p>p1</p><p>p2</p></div></body></html>", "p1\n\np2"),
]


def _html_kernel(case_id: int, html: str) -> list[tuple]:
    from ..functions.html import extract_main_text

    return [(case_id, extract_main_text(html))]


q_html_strip, HTML_ORACLE = fixture_kernel(
    _html_kernel,
    [(cid, h) for cid, h, _ in HTML_FIXTURES],
    [("case_id", "BIGINT"), ("main_text", "VARCHAR")],
    [(cid, exp) for cid, _, exp in HTML_FIXTURES],
)

# ---- reading-order sort + line resolution (expected values are the
#      reference's own published fixtures, tests/common/test_models_builder.py:185-230)
SORT_FIXTURES = [
    (1, [[0, 0.5, 0.1, 0.6], [0, 0.3, 0.2, 0.4], [0, 0, 0.1, 0.1]], [2, 1, 0]),
    (2, [[0.7, 0.5, 0.85, 0.6], [0.2, 0.3, 0.4, 0.4], [0, 0, 0.1, 0.1]], [2, 1, 0]),
    (3, [[0, 0.5, 0.1, 0.6], [0.15, 0.5, 0.25, 0.6], [0.5, 0.5, 0.6, 0.6]], [0, 1, 2]),
    (4, [[0, 0.5, 0.1, 0.6], [0.2, 0.49, 0.35, 0.59], [0.8, 0.52, 0.9, 0.63]], [0, 1, 2]),
    (5, [[0, 0.3, 0.4, 0.45], [0.5, 0.28, 0.75, 0.42], [0, 0.45, 0.1, 0.55]], [0, 1, 2]),
    (6, [[0, 0.3, 0.4, 0.35], [0.75, 0.28, 0.95, 0.42], [0, 0.45, 0.1, 0.55]], [0, 1, 2]),
    # rotated quads (reference tests/common/test_models_builder.py "rot")
    (7, [[[0.1, 0.1], [0.2, 0.2], [0.15, 0.25], [0.05, 0.15]],
         [[0.5, 0.5], [0.6, 0.6], [0.55, 0.65], [0.45, 0.55]]], [0, 1]),
    # 8-degree page skew: WITHOUT the reference's de-skew rotation
    # (builder.py:55-62) the min/max-collapsed order is [0, 2, 1];
    # de-skewing restores the true reading order [0, 1, 2]
    (8, [[[0.0683, 0.3383], [0.2168, 0.3592], [0.2099, 0.4087], [0.0613, 0.3879]],
         [[0.7615, 0.4358], [0.9595, 0.4636], [0.9526, 0.5131], [0.7545, 0.4853]],
         [[0.0544, 0.4374], [0.2029, 0.4582], [0.196, 0.5078], [0.0474, 0.4869]]], [0, 1, 2]),
]
LINE_FIXTURES = [
    (1, [[0, 0.5, 0.1, 0.6], [0, 0.3, 0.2, 0.4], [0, 0, 0.1, 0.1]], [[2], [1], [0]]),
    (2, [[0.7, 0.5, 0.85, 0.6], [0.2, 0.3, 0.4, 0.4], [0, 0, 0.1, 0.1]], [[2], [1], [0]]),
    (3, [[0, 0.5, 0.14, 0.6], [0.15, 0.5, 0.25, 0.6], [0.5, 0.5, 0.6, 0.6]], [[0, 1], [2]]),
    (4, [[0, 0.5, 0.18, 0.6], [0.2, 0.48, 0.35, 0.58], [0.8, 0.52, 0.9, 0.63]], [[0, 1], [2]]),
    (5, [[0, 0.3, 0.48, 0.45], [0.5, 0.28, 0.75, 0.42], [0, 0.45, 0.1, 0.55]], [[0, 1], [2]]),
    (6, [[0, 0.3, 0.4, 0.35], [0.75, 0.28, 0.95, 0.42], [0, 0.45, 0.1, 0.55]], [[0], [1], [2]]),
]


def _sort_kernel(case_id: int, boxes: list) -> list[tuple]:
    from ..operators.builder import sort_boxes

    return [(case_id, ",".join(map(str, sort_boxes(np.asarray(boxes))[0].tolist())))]


q_reading_order, SORT_ORACLE = fixture_kernel(
    _sort_kernel,
    [(cid, b) for cid, b, _ in SORT_FIXTURES],
    [("case_id", "BIGINT"), ("order_csv", "VARCHAR")],
    [(cid, ",".join(map(str, o))) for cid, _, o in SORT_FIXTURES],
)


def _lines_kernel(case_id: int, boxes: list) -> list[tuple]:
    from ..operators.builder import resolve_lines

    return [(case_id, json.dumps(resolve_lines(np.asarray(boxes))))]


q_resolve_lines, LINES_ORACLE = fixture_kernel(
    _lines_kernel,
    [(cid, b) for cid, b, _ in LINE_FIXTURES],
    [("case_id", "BIGINT"), ("lines_json", "VARCHAR")],
    [(cid, json.dumps(ln)) for cid, _, ln in LINE_FIXTURES],
)

# ---- detection postprocess on synthetic proba maps; expected boxes derived
#      analytically from the documented spec (component bbox + score = fg,
#      unclip d = area*ratio/perimeter with floor/ceil rounding, rel clip)
DETECT_FIXTURES = [
    # (case_id, H, W, [(x0, y0, x1_excl, y1_excl)], fg)
    (1, 100, 200, [(10, 10, 60, 30)], 0.9),
    (2, 80, 120, [(5, 40, 45, 60), (70, 10, 110, 35)], 0.8),
    (3, 60, 60, [(0, 0, 30, 30)], 0.95),
]


def _expected_detect_rows() -> list[tuple]:
    import math

    rows = []
    for cid, h, w, rects, fg in DETECT_FIXTURES:
        boxes = []
        for x0, y0, x1e, y1e in rects:
            bw, bh = x1e - x0, y1e - y0
            d = bw * bh * 1.5 / (2.0 * (bw + bh))
            ex0 = math.floor(x0 - d)
            ey0 = math.floor(y0 - d)
            ex1 = math.ceil((x1e - 1) + d)
            ey1 = math.ceil((y1e - 1) + d)
            boxes.append(
                (
                    max(0.0, ex0 / w),
                    max(0.0, ey0 / h),
                    min(1.0, (ex1 + 1) / w),
                    min(1.0, (ey1 + 1) / h),
                    fg,
                )
            )
        # output order: raster order of topmost run = sort by (y0, x0)
        order = sorted(range(len(rects)), key=lambda i: (rects[i][1], rects[i][0]))
        for idx, i in enumerate(order):
            b = boxes[i]
            rows.append((cid, idx, round(b[0], 6), round(b[1], 6), round(b[2], 6), round(b[3], 6), round(b[4], 6)))
    return rows


def _detect_kernel(case_id: int, h: int, w: int, rects: list, fg: float) -> list[tuple]:
    from ..operators.detection import postprocess_proba_map

    proba = np.full((h, w), 0.05)
    for x0, y0, x1e, y1e in rects:
        proba[y0:y1e, x0:x1e] = fg
    return [
        (case_id, idx, *(round(v, 6) for v in b[:5]))
        for idx, b in enumerate(postprocess_proba_map(proba))
    ]


q_detect_boxes, DETECT_ORACLE = fixture_kernel(
    _detect_kernel,
    DETECT_FIXTURES,
    [
        ("case_id", "BIGINT"),
        ("box_idx", "BIGINT"),
        ("xmin", "DOUBLE"),
        ("ymin", "DOUBLE"),
        ("xmax", "DOUBLE"),
        ("ymax", "DOUBLE"),
        ("score", "DOUBLE"),
    ],
    _expected_detect_rows(),
)

# ---- render joins
RENDER_FIXTURES = [
    (1, [[["hello", "world"]]], "hello world"),
    (2, [[["a", "b"], ["c"]]], "a b\nc"),
    (3, [[["a"]], [["b"]]], "a\n\nb"),
]


def _render_kernel(case_id: int, blocks: list) -> list[tuple]:
    from ..functions.render import render_page

    return [(case_id, render_page(blocks))]


q_render_joins, RENDER_ORACLE = fixture_kernel(
    _render_kernel,
    [(cid, blocks) for cid, blocks, _ in RENDER_FIXTURES],
    [("case_id", "BIGINT"), ("rendered", "VARCHAR")],
    [(cid, exp) for cid, _, exp in RENDER_FIXTURES],
)


# ============================================================ relational ===

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..functions.text import (  # noqa: E402
    ALPHA_REGEX,
    BPE_TOKEN_COUNT_SQL,
    DIGIT_REGEX,
    DOMAINS_CSV_SQL,
    FINGERPRINT_SQL,
    TOKEN_COUNT_SQL,
    URL_COUNT_SQL,
    ascii_fold_sql,
    char_class_ratio,
    char_class_ratio_sql,
    fingerprint,
    lang_id,
    lang_id_conf_sql,
    lang_id_sql,
    pii_count_sql,
    quality_score,
    quality_score_sql,
    scrub_pii_sql,
    token_count,
)
from ..operators.lm import lm_bigram_scores_sql  # noqa: E402
from ..operators.sampling import sample_predicate_sql, stratified_sample_sql  # noqa: E402


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---- derived boxes from lineitem: a deterministic rational-arithmetic
#      derivation both engines compute identically
def _boxes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_suppkey") % 20).cast("long").alias("page"),
        F.col("l_orderkey").cast("long").alias("okey"),
        F.col("l_linenumber").cast("long").alias("lineno"),
        ((F.col("l_partkey") % 90) / 100.0).alias("xmin"),
        ((F.col("l_orderkey") % 90) / 100.0).alias("ymin"),
        ((F.col("l_partkey") % 90) / 100.0 + (F.col("l_quantity") % 9 + 1) / 100.0).alias("xmax"),
        ((F.col("l_orderkey") % 90) / 100.0 + (F.col("l_linenumber") % 9 + 1) / 100.0).alias("ymax"),
    )


_BOXES_CTE = """
boxes AS (
  SELECT CAST(l_suppkey % 20 AS BIGINT) AS page,
         CAST(l_orderkey AS BIGINT) AS okey,
         CAST(l_linenumber AS BIGINT) AS lineno,
         (l_partkey % 90) / 100.0 AS xmin,
         (l_orderkey % 90) / 100.0 AS ymin,
         (l_partkey % 90) / 100.0 + (l_quantity % 9 + 1) / 100.0 AS xmax,
         (l_orderkey % 90) / 100.0 + (l_linenumber % 9 + 1) / 100.0 AS ymax
  FROM lineitem
)"""


def q_sort_key_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reading-order rank by the builder sort key (xmin + 2*ymax/median_h)
    over lineitem-derived boxes, per page group."""
    boxes = _boxes_df(spark, sf_dir)
    med = boxes.groupBy("page").agg(F.expr("median(ymax - ymin)").alias("med_h"))
    keyed = boxes.join(med, "page").withColumn("k", F.col("xmin") + 2 * F.col("ymax") / F.col("med_h"))
    w = Window.partitionBy("page").orderBy("k", "okey", "lineno")
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 50)
        .select("page", "okey", "lineno", "rank")
    )


SORT_KEY_RANK_ORACLE = f"""
WITH {_BOXES_CTE},
med AS (SELECT page, median(ymax - ymin) AS med_h FROM boxes GROUP BY page),
keyed AS (
  SELECT b.page, b.okey, b.lineno,
         b.xmin + 2 * b.ymax / m.med_h AS k
  FROM boxes b JOIN med m USING (page)
)
SELECT page, okey, lineno,
       CAST(row_number() OVER (PARTITION BY page ORDER BY k, okey, lineno) AS BIGINT) AS rank
FROM keyed
QUALIFY rank <= 50
"""


def q_enclosing_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page enclosing bbox (resolve_enclosing_bbox as a plain SQL agg)."""
    return (
        _boxes_df(spark, sf_dir)
        .groupBy("page")
        .agg(
            F.round(F.min("xmin"), 6).alias("xmin"),
            F.round(F.min("ymin"), 6).alias("ymin"),
            F.round(F.max("xmax"), 6).alias("xmax"),
            F.round(F.max("ymax"), 6).alias("ymax"),
            F.count("*").alias("n_boxes"),
        )
    )


ENCLOSING_BBOX_ORACLE = f"""
WITH {_BOXES_CTE}
SELECT page, round(min(xmin), 6) AS xmin, round(min(ymin), 6) AS ymin,
       round(max(xmax), 6) AS xmax, round(max(ymax), 6) AS ymax,
       count(*) AS n_boxes
FROM boxes GROUP BY page
"""


def q_gap_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based 1-D clustering (the _resolve_sub_lines split rule applied
    to event time): new session when gap > 1800s; per-user session stats."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    sess = (
        ev.withColumn("gap", F.col("t") - F.lag("t").over(w))
        .withColumn("brk", F.when(F.col("gap") > 1800, 1).otherwise(0))
        .withColumn("session_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("t").alias("t_start"),
        F.max("t").alias("t_end"),
    )


GAP_SESSIONIZE_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
marked AS (
  SELECT user_id, event_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM ev
),
sess AS (
  SELECT user_id, t,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, count(*) AS n_events, min(t) AS t_start, max(t) AS t_end
FROM sess GROUP BY user_id, session_id
"""


def q_line_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-stable string_agg: per order, part tokens joined ' ' in
    linenumber order (the Line.render() invariant, relationally)."""
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("long").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.concat(F.lit("P"), (F.col("l_partkey") % 1000).cast("string")).alias("tok"),
    )
    pairs = F.array_sort(F.collect_list(F.struct(F.col("lineno").alias("o"), F.col("tok").alias("v"))))
    return li.groupBy("okey").agg(
        F.array_join(F.transform(pairs, lambda s: s["v"]), " ").alias("line_text"),
        F.count("*").alias("n_words"),
    )


LINE_RENDER_ORACLE = """
SELECT CAST(l_orderkey AS BIGINT) AS okey,
       string_agg('P' || CAST(l_partkey % 1000 AS VARCHAR), ' ' ORDER BY l_linenumber, 'P' || CAST(l_partkey % 1000 AS VARCHAR)) AS line_text,
       count(*) AS n_words
FROM lineitem GROUP BY l_orderkey
"""


def q_turn_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable per-key ordering rank (the Window.partitionBy(conv).orderBy(turn)
    invariant) on events: first 5 events per user."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_id", "rn")
    )


TURN_ORDER_ORACLE = """
SELECT user_id, event_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
FROM events QUALIFY rn <= 5
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events per type by value (window top-k pattern)."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("event_type", "event_id", "rank", "value")
    )


TOPK_ORACLE = """
SELECT event_type, event_id,
       CAST(row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS BIGINT) AS rank,
       value
FROM events QUALIFY rank <= 3
"""


def q_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup per event type (order-independent aggs only)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*) AS n, round(min(value), 6) AS min_value, round(max(value), 6) AS max_value
FROM events GROUP BY 1, 2
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        char_class_ratio(F.col("text"), ALPHA_REGEX).alias("alpha_ratio"),
        char_class_ratio(F.col("text"), DIGIT_REGEX).alias("digit_ratio"),
    )


TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       CAST({TOKEN_COUNT_SQL.format(c="text")} AS BIGINT) AS n_tokens,
       {char_class_ratio_sql("text", ALPHA_REGEX)} AS alpha_ratio,
       {char_class_ratio_sql("text", DIGIT_REGEX)} AS digit_ratio
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    return docs.select(
        "doc_id", q.alias("quality"), (q >= 0.5).cast("int").cast("long").alias("is_quality")
    )


QUALITY_ORACLE = f"""
SELECT doc_id, {quality_score_sql("text")} AS quality,
       CAST(CASE WHEN {quality_score_sql("text")} >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS is_quality
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id(F.col("text")).alias("pred_lang"))


LANG_ID_ORACLE = f"""
SELECT doc_id, lang, {lang_id_sql("text")} AS pred_lang FROM documents
"""


# word pairs exercising every level split (first six are the reference's
# own TextMatch fixtures, tests/common/test_utils_metrics.py:7-12)
STRING_MATCH_PAIRS = [
    (1, "grass", "grass"),      # all levels
    (2, "56", "56"),            # all levels
    (3, "True", "true"),        # caseless+unicase only
    (4, "EUR", "€"),            # anyascii+unicase (the reference's ordering pair)
    (5, "éléphant", "elephant"),  # anyascii+unicase
    (6, "ça", "ca"),            # anyascii+unicase
    (7, "STRASSE", "straße"),   # unicase only (ß -> ss, case differs)
    (8, "Œuvre", "OEuvre"),     # anyascii+unicase (ligature)
    (9, "naïve", "naive"),      # anyascii+unicase
    (10, "left", "right"),      # no level
]


def q_string_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-level string_match (raw/caseless/anyascii/unicase, reference
    utils/metrics.py:23-41) over the reference's own TextMatch fixture
    pairs; the oracle recomputes the ascii fold in SQL from the same
    tables."""
    from ..functions.text import string_match

    src = spark.createDataFrame(STRING_MATCH_PAIRS, "case_id long, a string, b string")
    raw, caseless, anyascii, unicase = string_match(F.col("a"), F.col("b"))
    return src.select(
        "case_id",
        raw.cast("long").alias("raw"),
        caseless.cast("long").alias("caseless"),
        anyascii.cast("long").alias("anyascii"),
        unicase.cast("long").alias("unicase"),
    )


def _string_match_oracle() -> str:
    rows = ",\n  ".join(f"({cid}, '{a}', '{b}')" for cid, a, b in STRING_MATCH_PAIRS)
    fa, fb = ascii_fold_sql("a"), ascii_fold_sql("b")
    return f"""
WITH pairs(case_id, a, b) AS (VALUES
  {rows}
)
SELECT CAST(case_id AS BIGINT) AS case_id,
       CAST(CASE WHEN a = b THEN 1 ELSE 0 END AS BIGINT) AS raw,
       CAST(CASE WHEN lower(a) = lower(b) THEN 1 ELSE 0 END AS BIGINT) AS caseless,
       CAST(CASE WHEN {fa} = {fb} THEN 1 ELSE 0 END AS BIGINT) AS anyascii,
       CAST(CASE WHEN lower({fa}) = lower({fb}) THEN 1 ELSE 0 END AS BIGINT) AS unicase
FROM pairs
"""


STRING_MATCH_ORACLE = _string_match_oracle()


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


FINGERPRINT_ORACLE = f"SELECT doc_id, {FINGERPRINT_SQL.format(c='text')} AS fp FROM documents"


def q_exact_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    fps = docs.select(fingerprint(F.col("text")).alias("fp"))
    return fps.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count("*") - F.countDistinct("fp")).alias("n_dup_rows"),
    )


EXACT_DEDUP_ORACLE = f"""
WITH fps AS (SELECT {FINGERPRINT_SQL.format(c='text')} AS fp FROM documents)
SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
       count(*) - count(DISTINCT fp) AS n_dup_rows
FROM fps
"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard pairs over doc_id<100 (the verify stage of
    near-dup dedup, fully relational on both sides)."""
    from ..operators.dedup import jaccard_pairs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.01)


JACCARD_ORACLE = """
WITH docs AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id < 100
),
words AS (
  SELECT id, unnest(str_split(norm, ' ')) AS w,
         generate_subscripts(str_split(norm, ' '), 1) AS pos
  FROM docs
),
grams AS (
  SELECT DISTINCT id, w || ' ' || lead(w, 1) OVER (PARTITION BY id ORDER BY pos)
                    || ' ' || lead(w, 2) OVER (PARTITION BY id ORDER BY pos) AS ngram
  FROM words
  QUALIFY lead(w, 2) OVER (PARTITION BY id ORDER BY pos) IS NOT NULL
),
sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM grams a JOIN grams b USING (ngram)
  WHERE a.id < b.id
  GROUP BY a.id, b.id
)
SELECT i.id_a, i.id_b,
       round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.01
"""


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors."""
    from ..operators.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), F.round("sim", 4).alias("sim"))


KNN_ORACLE = """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS sim
  FROM q JOIN c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank,
       round(sim, 4) AS sim
FROM scored QUALIFY rank <= 5
"""


# ===================================================== added operators ===

# ---- wide-crop split geometry (reference split_crops arithmetic:
#      n = int(ar//target), width = dil*w/n, centers (w/n)*(i+1/2),
#      start = max(0, round(c-width/2)), stop = min(w-1, round(c+width/2)))
SPLIT_FIXTURES = [
    # (case_id, width, height) -> expected ranges computed from the spec
    (1, 100, 20, None),           # ar 5 <= 8: no split
    (2, 200, 20, [(0, 199)]),     # ar 10: n=1, width=280 -> clamped full range
    (3, 400, 20, [(0, 160), (107, 293), (240, 399)]),  # ar 20: n=3, width~186.7
]


def _split_kernel(case_id: int, w: int, h: int) -> list[tuple]:
    from ..operators.recognition import split_wide_crop

    return [(case_id, json.dumps(split_wide_crop(w, h)))]


q_split_crops, SPLIT_ORACLE = fixture_kernel(
    _split_kernel,
    [(cid, w, h) for cid, w, h, _ in SPLIT_FIXTURES],
    [("case_id", "BIGINT"), ("ranges", "VARCHAR")],
    [(cid, json.dumps([list(r) for r in rs] if rs is not None else None)) for cid, _, _, rs in SPLIT_FIXTURES],
)

# ---- KIE per-class build + render (KIEPage.render semantics)
KIE_FIXTURES = [
    (
        1,
        [[0.0, 0.0, 0.1, 0.1], [0.2, 0.0, 0.3, 0.1], [0.0, 0.3, 0.1, 0.4], [0.2, 0.3, 0.3, 0.4]],
        ["HELLO", "42", "WORLD", "+"],
        "number: 42\n\nsymbol: +\n\nword: HELLO\n\nword: WORLD",
    ),
    (2, [[0.0, 0.0, 0.2, 0.1]], ["A1B2"], "word: A1B2"),
]


def _kie_kernel(case_id: int, boxes: list, vals: list[str]) -> list[tuple]:
    from ..operators.kie import build_kie_page, render_kie_page

    return [(case_id, render_kie_page(build_kie_page(np.asarray(boxes), vals)))]


q_kie_render, KIE_ORACLE = fixture_kernel(
    _kie_kernel,
    [(cid, b, v) for cid, b, v, _ in KIE_FIXTURES],
    [("case_id", "BIGINT"), ("rendered", "VARCHAR")],
    [(cid, exp) for cid, _, _, exp in KIE_FIXTURES],
)


# orientation classifier over rendered pages rotated k quarter turns: the
# estimate must invert the applied rotation (k + est = 0 mod 4)
def _orientation_kernel(k: int) -> list[tuple]:
    from ..operators.orientation import estimate_page_orientation
    from ..sources.font import render_page as _render

    img, _ = _render("THE QUICK BROWN FOX 123!".split(), scale=3)
    est = estimate_page_orientation(np.ascontiguousarray(np.rot90(img, k)), 3)
    return [(k, est, int((est + k) % 4 == 0))]


q_orientation, ORIENTATION_ORACLE = fixture_kernel(
    _orientation_kernel,
    [(k,) for k in range(4)],
    [("k", "BIGINT"), ("est", "BIGINT"), ("inverts", "BIGINT")],
    [(k, (4 - k) % 4, 1) for k in range(4)],
)


# hOCR export over fixed words (structure + bbox arithmetic check)
def _hocr_kernel(case_id: int) -> list[tuple]:
    from ..functions.export import export_hocr
    from ..operators.builder import build_page

    page = build_page(np.array([[0.1, 0.1, 0.3, 0.2], [0.4, 0.1, 0.6, 0.2]]), ["AB", "CD"])
    xml = export_hocr(page.words, (100, 200))
    bbox = "bbox 20 10 60 20"
    return [
        (case_id, xml.count('class="ocrx_word"'), xml.count('class="ocr_line"'),
         bbox if bbox in xml else "missing")
    ]


q_hocr_export, HOCR_ORACLE = fixture_kernel(
    _hocr_kernel,
    [(1,)],
    [("case_id", "BIGINT"), ("n_words", "BIGINT"), ("n_lines", "BIGINT"), ("first_bbox", "VARCHAR")],
    # two words with a 0.1 horizontal gap split into two sub-lines
    # (paragraph_break 0.035), hence 2 ocr_line spans
    [(1, 2, 2, "bbox 20 10 60 20")],
)


def q_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (event_type -> grand total): grouping-sets
    capability check with order-independent aggs."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n"), F.round(F.max("value"), 6).alias("max_value"))
        .select(F.coalesce(F.col("event_type"), F.lit("__total__")).alias("event_type"), "n", "max_value")
    )


ROLLUP_ORACLE = """
SELECT coalesce(event_type, '__total__') AS event_type, count(*) AS n,
       round(max(value), 6) AS max_value
FROM events GROUP BY ROLLUP (event_type)
"""


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user counts of the three hottest event types as columns."""
    ev = _read(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase"])
    )
    return out.select(
        "user_id",
        F.col("click").cast("long").alias("click"),
        F.col("view").cast("long").alias("view"),
        F.col("purchase").cast("long").alias("purchase"),
    )


PIVOT_ORACLE = """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase
FROM events GROUP BY user_id
"""


def q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs verify
    baseline; the LSH-accelerated variant is the rows-only emb_neardup_lsh)."""
    from ..operators.similarity import embedding_near_duplicates

    emb = _read(spark, sf_dir, "embeddings")
    out = embedding_near_duplicates(emb, threshold=0.4, method="exact")
    return out.select("id_a", "id_b", F.round("sim", 4).alias("sim"))


EMB_NEARDUP_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(round(list_cosine_similarity(a.v, b.v), 6), 4) AS sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""


# ---- convex-quad pairwise IoU (doctr/utils/metrics.py:152-178 polygon_iou;
#      exact Sutherland-Hodgman + shoelace, fixtures with hand-computed IoU)
POLY_IOU_FIXTURES = [
    # (case_id, quad_a, quad_b, expected iou rounded 6)
    (1, [[0, 0], [2, 0], [2, 2], [0, 2]], [[1, 0], [3, 0], [3, 2], [1, 2]], 0.333333),
    (2, [[0, 0], [2, 0], [2, 2], [0, 2]], [[0, 0], [2, 0], [2, 2], [0, 2]], 1.0),
    (3, [[0, 0], [2, 0], [2, 2], [0, 2]], [[5, 5], [6, 5], [6, 6], [5, 6]], 0.0),
    (4, [[0, 0], [2, 0], [2, 2], [0, 2]], [[1, 0], [2, 1], [1, 2], [0, 1]], 0.5),
    (5, [[0, 0], [4, 0], [4, 1], [0, 1]], [[0, 0], [1, 0], [1, 4], [0, 4]], 0.142857),
]


def _poly_iou_kernel(case_id: int, a: list, b: list) -> list[tuple]:
    from ..operators.geometry import polygon_iou

    iou = polygon_iou(np.asarray([a], dtype=np.float64), np.asarray([b], dtype=np.float64))[0, 0]
    return [(case_id, round(float(iou), 6))]


q_polygon_iou, POLY_IOU_ORACLE = fixture_kernel(
    _poly_iou_kernel,
    [(cid, a, b) for cid, a, b, _ in POLY_IOU_FIXTURES],
    [("case_id", "BIGINT"), ("iou", "DOUBLE")],
    [(cid, exp) for cid, _, _, exp in POLY_IOU_FIXTURES],
)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click event picks up the most recent prior-or-equal
    purchase (per user), null when the user never purchased before."""
    from ..operators.relational import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        clicks, purch, on="user_id", ts_col="ts", value_cols=["value"], tiebreak_col="event_id"
    )
    return out.select(
        "event_id", "user_id", F.round(F.col("value_asof"), 6).alias("last_purchase_value")
    )


ASOF_ORACLE = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, round(p.value, 6) AS last_purchase_value
FROM clicks c LEFT JOIN LATERAL (
  SELECT value FROM purch p
  WHERE p.user_id = c.user_id AND p.ts <= c.ts
  ORDER BY p.ts DESC, p.event_id DESC LIMIT 1
) p ON true
"""


def q_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, weekday): all four grouping-set combinations."""
    ev = _read(spark, sf_dir, "events")
    out = (
        ev.withColumn("dow", F.dayofweek("ts").cast("long"))
        .cube("event_type", "dow")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    return out.select(
        F.coalesce("event_type", F.lit("__all__")).alias("event_type"),
        F.coalesce("dow", F.lit(-1)).alias("dow"),
        "n",
        "total_value",
    )


CUBE_ORACLE = """
SELECT coalesce(event_type, '__all__') AS event_type,
       coalesce(CAST(dayofweek(ts) + 1 AS BIGINT), -1) AS dow,
       count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY CUBE (event_type, (CAST(dayofweek(ts) + 1 AS BIGINT)))
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the shipdate filter and 7-column
    projection push into the parquet scan; partial aggregation combines
    map-side so the exchange carries only (flag,status) x partial rows."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 4
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-lite: lineitem |>< orders |>< customer |>< nation. The two
    dimension sides (customer, nation) broadcast; the single shuffle join is
    lineitem-orders on orderkey — at 100 TB that is the only exchange whose
    width tracks the fact table, and AQE handles orderkey skew."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


REVENUE_NATION_ORACLE = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---- vocab projection (reference translate: doctr/datasets/utils.py:35-66 —
#      NFD-fold accents to the vocab's ascii, drop whitespace, '■' unknown)
TRANSLATE_FIXTURES = [
    (1, "héllo wörld", "english", "helloworld"),
    (2, "Prix: 12,50 €", "french", "Prix:12,50€"),
    (3, "naïve — café", "latin", "naive■cafe"),
    (4, "ABC xyz 123", "digits", "■■■■■■123"),
    (5, "Grüße!", "german", "Grüße!"),
    # breadth of the full reference vocab table (datasets/vocabs.py:11-155)
    (6, "Živjeli čaše", "croatian", "Živjeličaše"),
    (7, "zażółć gęślą", "polish", "zażółćgęślą"),
    (8, "smörgåsbord", "swedish", "smörgåsbord"),
    (9, "Привет мир 42", "russian", "Приветмир42"),
    (10, "добрий день ₴", "ukrainian", "добрийдень₴"),
    # the hindi vocab has no dependent vowel signs (matras): U+0947 -> '■'
    (11, "नमस्ते १२३", "hindi", "नमस्त■१२३"),
    (12, "שלום עולם", "hebrew", "שלוםעולם"),
    (13, "chào thế giới", "vietnamese", "chàothếgiới"),
    (14, "Ærø København", "danish", "ÆrøKøbenhavn"),
    (15, "Привет café", "multilingual", "■■■■■■café"),
]


def _translate_kernel(case_id: int, raw: str, vocab: str) -> list[tuple]:
    from ..functions.vocabs import translate

    return [(case_id, translate(raw, vocab))]


q_translate, TRANSLATE_ORACLE = fixture_kernel(
    _translate_kernel,
    [(cid, s, v) for cid, s, v, _ in TRANSLATE_FIXTURES],
    [("case_id", "BIGINT"), ("projected", "VARCHAR")],
    [(cid, exp) for cid, _, _, exp in TRANSLATE_FIXTURES],
)


# ---- greedy NMS + pairwise straight-box IoU (doctr/utils/metrics.py:124-216)
NMS_BOXES = [
    [0.1, 0.1, 0.4, 0.3, 0.9],
    [0.12, 0.11, 0.42, 0.32, 0.8],
    [0.5, 0.5, 0.8, 0.7, 0.95],
    [0.52, 0.52, 0.82, 0.72, 0.6],
    [0.1, 0.6, 0.3, 0.8, 0.5],
]


# greedy score-ordered NMS over the fixture boxes: surviving indices in
# keep order
def _nms_kernel(case_id: int, boxes: list) -> list[tuple]:
    from ..operators.geometry import nms

    keep = nms(np.asarray(boxes, dtype=np.float64), thresh=0.5)
    return [(case_id, r, k) for r, k in enumerate(keep)]


q_nms, NMS_ORACLE = fixture_kernel(
    _nms_kernel,
    [(1, NMS_BOXES)],
    [("case_id", "BIGINT"), ("keep_rank", "BIGINT"), ("box_idx", "BIGINT")],
    [(1, 0, 2), (1, 1, 0), (1, 2, 4)],
)

IOU_A = [[0.1, 0.1, 0.4, 0.3], [0.5, 0.5, 0.8, 0.7]]
IOU_B = [[0.12, 0.11, 0.42, 0.32], [0.52, 0.52, 0.82, 0.72], [0.9, 0.9, 1.0, 1.0]]


def _box_iou_kernel(case_id: int, a: list, b: list) -> list[tuple]:
    from ..operators.geometry import box_iou_matrix

    m = box_iou_matrix(np.asarray(a), np.asarray(b))
    return [
        (case_id, i, j, round(float(m[i, j]), 6))
        for i in range(m.shape[0])
        for j in range(m.shape[1])
    ]


q_box_iou, BOX_IOU_ORACLE = fixture_kernel(
    _box_iou_kernel,
    [(1, IOU_A, IOU_B)],
    [("case_id", "BIGINT"), ("i", "BIGINT"), ("j", "BIGINT"), ("iou", "DOUBLE")],
    [
        (1, 0, 0, 0.762178), (1, 0, 1, 0.0), (1, 0, 2, 0.0),
        (1, 1, 0, 0.0), (1, 1, 1, 0.724138), (1, 1, 2, 0.0),
    ],
)


def q_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token counts per document + whitespace-token counts
    (both JVM-side regex; the subword estimate is the training-data token
    budget stat)."""
    from ..functions.text import bpe_token_count, token_count

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


SUBWORD_ORACLE = (
    "SELECT doc_id, CAST(" + TOKEN_COUNT_SQL.format(c="text") + " AS BIGINT) AS ws_tokens, "
    "CAST(" + BPE_TOKEN_COUNT_SQL.format(c="text") + " AS BIGINT) AS bpe_tokens FROM documents"
)


# ---- page-angle estimation (utils/geometry.py:350-365: median arctan of
#      summed top/bottom edge deltas) and padding inversion
#      (detection/_utils/base.py:12-63: box' -> (box - offset)/scale, clip)
ANGLE_FIXTURES = [
    (1, [[[0.1, 0.1], [0.3, 0.2], [0.3, 0.3], [0.1, 0.2]]], -26.565051),
    (2, [[[0.1, 0.1], [0.3, 0.1], [0.3, 0.2], [0.1, 0.2]],
         [[0.4, 0.4], [0.6, 0.45], [0.6, 0.55], [0.4, 0.5]]], -7.018122),
]


def _page_angle_kernel(case_id: int, polys: list) -> list[tuple]:
    from ..operators.geometry import estimate_page_angle

    return [(case_id, round(estimate_page_angle(np.asarray(polys, dtype=np.float64)), 6))]


q_page_angle, PAGE_ANGLE_ORACLE = fixture_kernel(
    _page_angle_kernel,
    [(cid, p) for cid, p, _ in ANGLE_FIXTURES],
    [("case_id", "BIGINT"), ("angle_deg", "DOUBLE")],
    [(cid, exp) for cid, _, exp in ANGLE_FIXTURES],
)


def q_remove_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invert aspect-preserving pad on detected boxes — also expressible as
    plain arithmetic, so the oracle derives it in SQL rather than VALUES."""
    from ..operators.preprocess import remove_padding

    boxes = [(0, 0.25, 0.1, 0.75, 0.3), (1, 0.0, 0.5, 1.0, 0.9)]
    src = spark.createDataFrame(boxes, "box_id long, xmin double, ymin double, xmax double, ymax double")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            arr = pdf[["xmin", "ymin", "xmax", "ymax"]].to_numpy(dtype=np.float64)
            out = remove_padding(arr, (0.25, 0.0, 0.5, 1.0))
            yield pd.DataFrame(
                {
                    "box_id": pdf["box_id"],
                    "xmin": np.round(out[:, 0], 6),
                    "ymin": np.round(out[:, 1], 6),
                    "xmax": np.round(out[:, 2], 6),
                    "ymax": np.round(out[:, 3], 6),
                }
            )

    return src.mapInPandas(run, "box_id long, xmin double, ymin double, xmax double, ymax double")


REMOVE_PADDING_ORACLE = """
WITH src(box_id, xmin, ymin, xmax, ymax) AS (
  VALUES (CAST(0 AS BIGINT), 0.25, 0.1, 0.75, 0.3), (CAST(1 AS BIGINT), 0.0, 0.5, 1.0, 0.9)
)
SELECT box_id,
       round(least(greatest((xmin - 0.25) / 0.5, 0), 1), 6) AS xmin,
       round(least(greatest(ymin / 1.0, 0), 1), 6) AS ymin,
       round(least(greatest((xmax - 0.25) / 0.5, 0), 1), 6) AS xmax,
       round(least(greatest(ymax / 1.0, 0), 1), 6) AS ymax
FROM src
"""


def q_ocr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end per-payload-kind equality report over a generated mixed
    corpus (the corpus carries its own ground truth)."""
    from ..functions.metrics import extraction_quality_report
    from ..plans.pipeline import extract_turns
    from ..sources.corpus import make_transcripts

    gen = make_transcripts(spark, 16, partitions=4)
    out = extract_turns(gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    return extraction_quality_report(out, gen.select("conv_id", "turn_idx", "expected_text"))


# per-kind turn counts pinned by the deterministic generator
# (make_transcripts(16), kind drawn from the keyed hash); the invariant
# under test is exact_match_rate = 1.0 for every payload kind
OCR_QUALITY_ORACLE = values_oracle(
    [("html", 49, 1.0), ("ocr", 31, 1.0), ("plain", 83, 1.0)],
    [("payload_kind", "VARCHAR"), ("n_turns", "BIGINT"), ("exact_match_rate", "DOUBLE")],
)


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% repeatable sample of documents by md5-prefix threshold — same
    rows every run, any engine, any partitioning (RNG-free curation)."""
    from ..operators.sampling import deterministic_sample

    docs = _read(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.25).select("doc_id", "source", "lang")


SAMPLE_ORACLE = (
    f"SELECT doc_id, source, lang FROM documents WHERE {sample_predicate_sql('doc_id', 0.25)}"
)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition: per (source, lang) doc counts, char volume, and
    whitespace-token volume — the curation dashboard aggregate."""
    from ..functions.text import token_count

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
        )
    )


CORPUS_STATS_ORACLE = (
    "SELECT source, lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars, "
    "CAST(sum(" + TOKEN_COUNT_SQL.format(c="text") + ") AS BIGINT) AS total_tokens "
    "FROM documents GROUP BY source, lang"
)


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter: keep documents in the top half of their source's
    quality distribution (percent_rank window per source — one exchange on
    the group key; at 100 TB the per-source sort is the only cost and AQE
    splits hot sources)."""
    from pyspark.sql import Window as W

    from ..functions.text import quality_score

    docs = _read(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "source", quality_score(F.col("text")).alias("q"))
    w = W.partitionBy("source").orderBy(F.asc("q"), F.asc("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.5)
        .select("doc_id", "source", "q", F.round("pr", 6).alias("pr"))
    )


QUALITY_FILTER_ORACLE = f"""
WITH scored AS (SELECT doc_id, source, {quality_score_sql("text")} AS q FROM documents),
ranked AS (
  SELECT doc_id, source, q,
         percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS pr
  FROM scored
)
SELECT doc_id, source, q, round(pr, 6) AS pr FROM ranked WHERE pr >= 0.5
"""


def q_conversation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each conversation's extracted turns into one document
    (turns joined in turn_idx order by the page separator '\\n\\n\\n\\n' —
    Document.render() semantics at conversation granularity)."""
    import __spark_entry__ as entry_mod

    from ..plans.pipeline import conversation_documents, extract_turns

    transcripts = entry_mod._transcripts_from_documents(spark, sf_dir)
    out = conversation_documents(extract_turns(transcripts))
    return out.select("conv_id", "n_turns", "n_chars", "document_text")


CONVERSATION_DOCS_ORACLE = """
WITH turns AS (
  SELECT 'doc-' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
         row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) - 1 AS turn_idx,
         text AS extracted_text
  FROM documents
)
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(length(extracted_text)) AS BIGINT) AS n_chars,
       string_agg(extracted_text, e'\n\n\n\n' ORDER BY turn_idx) AS document_text
FROM turns GROUP BY conv_id
"""


# ---- DetectionMetric (doctr/utils/metrics.py:442-551): IoU assignment +
#      class comparison; fixtures hand-computed (exact IoUs)
DETECTION_METRIC_FIXTURES = [
    # (page_id, gt [(box, label)], pred [(box, label)],
    #  expected (num_matches, tot_iou, n_gts, n_preds))
    (1, [([0.0, 0.0, 0.5, 0.5], 0)], [([0.0, 0.0, 0.5, 0.5], 0)], (1, 1.0, 1, 1)),
    # perfect localization, wrong class -> assigned pair doesn't count
    (2, [([0.0, 0.0, 0.5, 0.5], 0)], [([0.0, 0.0, 0.5, 0.5], 1)], (0, 1.0, 1, 1)),
    # IoU 0.25 < 0.5 -> below threshold
    (3, [([0.0, 0.0, 1.0, 1.0], 2)], [([0.5, 0.5, 1.0, 1.0], 2)], (0, 0.25, 1, 1)),
    # cross-ordered pairs: assignment must match both, classes agree
    (4, [([0.0, 0.0, 0.4, 0.4], 0), ([0.6, 0.6, 1.0, 1.0], 1)],
        [([0.6, 0.6, 1.0, 1.0], 1), ([0.0, 0.0, 0.4, 0.4], 0)], (2, 2.0, 2, 2)),
    # empty prediction side: gts still counted
    (5, [([0.0, 0.0, 0.5, 0.5], 0)], [], (0, 0.0, 1, 0)),
]


# per-page DetectionMetric accumulators (num_matches / tot_iou / n_gts /
# n_preds) over hand-computed fixtures
def _detection_metric_kernel(page_id: int, gt: list, pred: list) -> list[tuple]:
    from ..functions.metrics import detection_matches

    m, tiou, ng, np_ = detection_matches(
        np.asarray([b for b, _ in gt], dtype=np.float64).reshape(-1, 4),
        np.asarray([c for _, c in gt], dtype=np.int64),
        np.asarray([b for b, _ in pred], dtype=np.float64).reshape(-1, 4),
        np.asarray([c for _, c in pred], dtype=np.int64),
    )
    return [(page_id, m, round(tiou, 6), ng, np_)]


q_detection_metric, DETECTION_METRIC_ORACLE = fixture_kernel(
    _detection_metric_kernel,
    [(pid, gt, pred) for pid, gt, pred, _ in DETECTION_METRIC_FIXTURES],
    [("page_id", "BIGINT"), ("num_matches", "BIGINT"), ("tot_iou", "DOUBLE"),
     ("n_gts", "BIGINT"), ("n_preds", "BIGINT")],
    [(pid, *e) for pid, _, _, e in DETECTION_METRIC_FIXTURES],
)


# ---- PII scrub + URL stats (training-data curation; JVM regex chains
#      with RE2-identical DuckDB twins)
PII_FIXTURES = [
    (1, "contact bob.smith+spam@example.co.uk or call +1 (415) 555-0173 now"),
    (2, "server at 192.168.10.1 and backup at 10.0.0.254 went down"),
    (3, "ssn 123-45-6789 leaked beside id 987-65-4321"),
    (4, "mixed: a@b.io +44 20 7946 0958 and 8.8.8.8 at https://dns.google/info"),
    (5, "perfectly clean prose with no identifiers at all"),
    (6, "see https://spark.apache.org/docs and http://spark.apache.org/sql plus https://duckdb.org"),
]


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails/ids/IPs/phones to typed tags + per-rule counts; the
    oracle re-runs the identical regex chain in DuckDB (RE2), so the
    driver check proves Java-regex/RE2 semantic agreement on the rules."""
    from ..functions.text import pii_count_cols, scrub_pii

    src = spark.createDataFrame(PII_FIXTURES, "case_id long, text string")
    counts = pii_count_cols(F.col("text"))
    return src.select(
        "case_id",
        scrub_pii(F.col("text")).alias("scrubbed"),
        counts[0].cast("long").alias("n_email"),
        counts[1].cast("long").alias("n_ssn"),
        counts[2].cast("long").alias("n_ipv4"),
        counts[3].cast("long").alias("n_phone"),
    )


# the fixture rows as a DuckDB CTE, shared by the pii_scrub and url_stats
# oracles
_PII_SRC = "WITH src(case_id, text) AS (VALUES\n  {}\n)".format(
    ",\n  ".join("({}, '{}')".format(cid, t.replace("'", "''")) for cid, t in PII_FIXTURES)
)


def _pii_oracle() -> str:
    c_email, c_ssn, c_ip, c_phone = pii_count_sql("text")
    return f"""
{_PII_SRC}
SELECT CAST(case_id AS BIGINT) AS case_id,
       {scrub_pii_sql("text")} AS scrubbed,
       CAST({c_email} AS BIGINT) AS n_email,
       CAST({c_ssn} AS BIGINT) AS n_ssn,
       CAST({c_ip} AS BIGINT) AS n_ipv4,
       CAST({c_phone} AS BIGINT) AS n_phone
FROM src
"""


PII_ORACLE = _pii_oracle()


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL count + sorted distinct domains per fixture row (the
    domain-blocklist filtering primitive)."""
    from ..functions.text import distinct_domains_csv, url_count

    src = spark.createDataFrame(PII_FIXTURES, "case_id long, text string")
    return src.select(
        "case_id",
        url_count(F.col("text")).cast("long").alias("n_urls"),
        distinct_domains_csv(F.col("text")).alias("domains_csv"),
    )


URL_STATS_ORACLE = f"""
{_PII_SRC}
SELECT CAST(case_id AS BIGINT) AS case_id,
       CAST({URL_COUNT_SQL.format(c="text")} AS BIGINT) AS n_urls,
       {DOMAINS_CSV_SQL.format(c="text")} AS domains_csv
FROM src
"""


# ---- repetition filters + stratified sampling (training-data curation)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics over documents (doc_id < 150)."""
    from ..operators.dedup import repetition_stats

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return repetition_stats(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


REPETITION_ORACLE = """
WITH docs AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id < 150
),
words AS (
  SELECT id, unnest(str_split(norm, ' ')) AS w,
         generate_subscripts(str_split(norm, ' '), 1) AS pos
  FROM docs
),
word_stats AS (
  SELECT id, count(*) AS n_words, count(DISTINCT w) AS n_distinct_words
  FROM words GROUP BY id
),
bigrams AS (
  SELECT id, w || ' ' || lead(w) OVER (PARTITION BY id ORDER BY pos) AS bg
  FROM words
  QUALIFY lead(w) OVER (PARTITION BY id ORDER BY pos) IS NOT NULL
),
bg_counts AS (SELECT id, bg, count(*) AS cnt FROM bigrams GROUP BY id, bg),
top AS (
  SELECT id, bg AS top_bigram, cnt AS top_bigram_count
  FROM bg_counts
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY cnt DESC, bg) = 1
),
n_bg AS (SELECT id, count(*) AS n_bigrams FROM bigrams GROUP BY id)
SELECT ws.id AS doc_id,
       CAST(ws.n_words AS BIGINT) AS n_words,
       CAST(ws.n_distinct_words AS BIGINT) AS n_distinct_words,
       round(1.0 - ws.n_distinct_words * 1.0 / ws.n_words, 6) AS dup_word_frac,
       coalesce(t.top_bigram, '') AS top_bigram,
       CAST(coalesce(t.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       round(coalesce(t.top_bigram_count * 1.0 / n.n_bigrams, 0.0), 6) AS top_bigram_frac
FROM word_stats ws
LEFT JOIN top t ON t.id = ws.id
LEFT JOIN n_bg n ON n.id = ws.id
"""

STRATA_RATES = {"en": 0.1, "fr": 0.5, "zh": 0.9}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (domain re-weighting): en kept
    at 10%, fr 50%, zh 90%, others 25%."""
    from ..operators.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(docs, "doc_id", "lang", STRATA_RATES, default_rate=0.25).select(
        "doc_id", "lang", "source"
    )


STRATIFIED_ORACLE = "SELECT doc_id, lang, source FROM documents WHERE " + stratified_sample_sql(
    "doc_id", "lang", STRATA_RATES, default_rate=0.25
)


# ---- LocalizationConfusion + OCRMetric driver queries (hand-computed
#      assignment fixtures; reference utils/metrics.py:219-439)
LOC_METRIC_FIXTURES = [
    # (page_id, gt [(box, text)], pred [(box, text)],
    #  expected (n_loc_matches, iou_sum6, n_text_matches))
    (1, [([0.0, 0.0, 0.2, 0.2], "A"), ([0.5, 0.5, 0.7, 0.7], "B")],
        [([0.0, 0.0, 0.2, 0.2], "A"), ([0.5, 0.5, 0.7, 0.7], "X")],
        (2, 2.0, 1)),
    # sub-threshold overlap: assigned but not a loc match; iou_sum counts it
    (2, [([0.0, 0.0, 1.0, 1.0], "Z")], [([0.5, 0.5, 1.0, 1.0], "Z")], (0, 0.25, 0)),
    # crossed order: assignment pairs correctly, both texts match
    (3, [([0.0, 0.0, 0.3, 0.3], "L"), ([0.6, 0.6, 0.9, 0.9], "R")],
        [([0.6, 0.6, 0.9, 0.9], "R"), ([0.0, 0.0, 0.3, 0.3], "L")],
        (2, 2.0, 2)),
    # extra spurious prediction: unmatched, contributes nothing
    (4, [([0.1, 0.1, 0.3, 0.3], "Q")],
        [([0.1, 0.1, 0.3, 0.3], "Q"), ([0.7, 0.7, 0.9, 0.9], "JUNK")],
        (1, 1.0, 1)),
]


# per-page LocalizationConfusion + OCRMetric accumulators (Hungarian IoU
# assignment; loc matches at IoU>=0.5; end-to-end = loc + exact text)
def _ocr_metric_kernel(page_id: int, gt: list, pred: list) -> list[tuple]:
    from ..functions.metrics import localization_confusion, ocr_matches

    gt_boxes = np.asarray([b for b, _ in gt], dtype=np.float64).reshape(-1, 4)
    pred_boxes = np.asarray([b for b, _ in pred], dtype=np.float64).reshape(-1, 4)
    n_loc, iou_sum = localization_confusion(gt_boxes, pred_boxes)
    _, n_text = ocr_matches(gt_boxes, [t for _, t in gt], pred_boxes, [t for _, t in pred])
    return [(page_id, n_loc, round(float(iou_sum), 6), n_text)]


q_ocr_metric, OCR_METRIC_ORACLE = fixture_kernel(
    _ocr_metric_kernel,
    [(pid, gt, pred) for pid, gt, pred, _ in LOC_METRIC_FIXTURES],
    [("page_id", "BIGINT"), ("n_loc_matches", "BIGINT"), ("iou_sum", "DOUBLE"),
     ("n_text_matches", "BIGINT")],
    [(pid, *e) for pid, _, _, e in LOC_METRIC_FIXTURES],
)


def q_lang_id_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_language parity: (language, confidence) with the reference's
    short-text/low-confidence unknown gate (models/_utils.py:156-172)."""
    from ..functions.text import lang_id_conf

    docs = _read(spark, sf_dir, "documents")
    lang, conf = lang_id_conf(F.col("text"))
    return docs.select("doc_id", lang.alias("lang_pred"), conf.alias("lang_conf"))


LANG_CONF_ORACLE = """
SELECT doc_id, {} AS lang_pred, CAST({} AS DOUBLE) AS lang_conf
FROM documents
""".format(*lang_id_conf_sql("text"))


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores: bigram LM trained on doc_id < 400,
    every document scored by smoothed log-likelihood (perplexity-filter
    primitive)."""
    from ..operators.lm import lm_bigram_scores

    docs = _read(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") < 400)
    return lm_bigram_scores(train, docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


LM_PERPLEXITY_ORACLE = lm_bigram_scores_sql("doc_id < 400")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the exact
    word-trigram Jaccard pair graph (doc_id < 100, threshold 0.01), one
    deterministic survivor (min id) per cluster. The oracle re-derives
    components via a recursive transitive-closure CTE over the same SQL
    pair graph."""
    from ..operators.dedup import jaccard_pairs
    from ..operators.graph import dedup_clusters

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.01)
    return dedup_clusters(pairs).withColumnRenamed("id", "doc_id")


DEDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE docs AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id < 100
),
words AS (
  SELECT id, unnest(str_split(norm, ' ')) AS w,
         generate_subscripts(str_split(norm, ' '), 1) AS pos
  FROM docs
),
grams AS (
  SELECT DISTINCT id, w || ' ' || lead(w, 1) OVER (PARTITION BY id ORDER BY pos)
                    || ' ' || lead(w, 2) OVER (PARTITION BY id ORDER BY pos) AS ngram
  FROM words
  QUALIFY lead(w, 2) OVER (PARTITION BY id ORDER BY pos) IS NOT NULL
),
sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM grams a JOIN grams b USING (ngram)
  WHERE a.id < b.id
  GROUP BY a.id, b.id
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b
  WHERE round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) >= 0.01
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
)
SELECT id AS doc_id, min(r) AS component,
       CAST(CASE WHEN id = min(r) THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
FROM reach GROUP BY id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set leak filter: docs 0-49 play the 'benchmark'; the rest of
    the corpus is flagged when it shares >= 2 distinct word trigrams with
    any benchmark doc."""
    from ..operators.dedup import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 50)
    corpus = docs.filter(F.col("doc_id") >= 50)
    return decontaminate(corpus, bench, "doc_id", "text", n=3, min_hits=2).withColumnRenamed(
        "id", "doc_id"
    )


DECONTAMINATE_ORACLE = """
WITH docs AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
         doc_id < 50 AS is_bench
  FROM documents
),
words AS (
  SELECT id, is_bench, unnest(str_split(norm, ' ')) AS w,
         generate_subscripts(str_split(norm, ' '), 1) AS pos
  FROM docs
),
grams AS (
  SELECT DISTINCT id, is_bench,
         w || ' ' || lead(w, 1) OVER (PARTITION BY id ORDER BY pos)
           || ' ' || lead(w, 2) OVER (PARTITION BY id ORDER BY pos) AS ngram
  FROM words
  QUALIFY lead(w, 2) OVER (PARTITION BY id ORDER BY pos) IS NOT NULL
),
bench_grams AS (SELECT DISTINCT ngram FROM grams WHERE is_bench),
hits AS (
  SELECT g.id, count(*) AS n_hits
  FROM grams g JOIN bench_grams b USING (ngram)
  WHERE NOT g.is_bench
  GROUP BY g.id
)
SELECT d.id AS doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_contaminated_grams,
       CAST(CASE WHEN coalesce(h.n_hits, 0) >= 2 THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
FROM docs d LEFT JOIN hits h ON h.id = d.id
WHERE NOT d.is_bench
"""


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-doc chunking: 32-token windows, stride 24 (8-token overlap),
    exploded to one row per (doc, window)."""
    from ..functions.text import split_into_windows

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    w = F.explode(split_into_windows(F.col("text"), window=32, stride=24)).alias("w")
    return docs.select("doc_id", w).select(
        "doc_id",
        F.col("w.window_idx").cast("long").alias("window_idx"),
        F.col("w.start_tok").cast("long").alias("start_tok"),
        F.col("w.n_tokens").cast("long").alias("n_tokens"),
        F.col("w.chunk").alias("chunk"),
    )


CHUNK_WINDOWS_ORACLE = """
WITH docs AS (
  SELECT doc_id, str_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents WHERE doc_id < 200
),
sized AS (
  SELECT doc_id, toks, len(toks) AS n,
         greatest(1, least(CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1,
                           CAST(floor((len(toks) - 1) / 24.0) AS INT) + 1)) AS n_windows
  FROM docs
),
win AS (
  SELECT doc_id, toks, n, unnest(generate_series(0, n_windows - 1)) AS widx
  FROM sized
)
SELECT doc_id,
       CAST(widx AS BIGINT) AS window_idx,
       CAST(widx * 24 AS BIGINT) AS start_tok,
       CAST(least(32, n - widx * 24) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, widx * 24 + 1, widx * 24 + 32), ' ') AS chunk
FROM win
"""


# ---- KIE entity classification over fixture words
KIE_ENTITY_FIXTURES = [
    (1, "A.B@C.IO", "email"),
    (2, "HTTPS://X.ORG/D", "url"),
    (3, "2026-08-17", "date"),
    (4, "17/08/26", "date"),
    (5, "42", "number"),
    (6, "$99", "number"),
    (7, "HELLO", "word"),
    (8, "A+B=C", "word"),
    (9, "+", "symbol"),
    (10, "R&D", "word"),
]


# typed KIE token classification (email/url/date + number/word/symbol)
def _kie_entity_kernel(case_id: int, token: str) -> list[tuple]:
    from ..operators.kie import classify_token

    return [(case_id, classify_token(token))]


q_kie_entities, KIE_ENTITIES_ORACLE = fixture_kernel(
    _kie_entity_kernel,
    [(cid, v) for cid, v, _ in KIE_ENTITY_FIXTURES],
    [("case_id", "BIGINT"), ("cls", "VARCHAR")],
    [(cid, cls) for cid, _, cls in KIE_ENTITY_FIXTURES],
)


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level near-dup over OCR page bundles: perceptual dHash per
    page, then the SAME pigeonhole Hamming blocking as SimHash — pairs of
    visually identical/near-identical pages across the generated corpus,
    summarized (pair count per distance + key checksums). Oracle constants
    from an exhaustive deterministic run."""
    from ..operators.dedup import simhash_near_duplicates
    from ..operators.multimodal import page_dhash
    from ..sources.corpus import make_transcripts

    gen = make_transcripts(spark, 10, partitions=2, ocr_ratio=1.0, html_ratio=0.0)
    with_payload = gen.select(
        (
            F.regexp_extract("conv_id", r"conv-(\d+)", 1).cast("long") * 10000
            + F.col("turn_idx").cast("long")
        ).alias("row_id"),
        F.unbase64(F.get_json_object("tool", "$.b64")).alias("payload"),
    )
    hashes = page_dhash(with_payload, "row_id", "payload").select(
        (F.col("id") * 10 + F.col("page_idx")).alias("id"),
        F.col("dhash").alias("simhash"),
    )
    nd = simhash_near_duplicates(hashes, max_hamming=2)
    return nd.agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("hamming") == 0).cast("long")).alias("h0"),
        F.sum("id_a").alias("sum_a"),
        F.sum("id_b").alias("sum_b"),
    )


IMAGE_NEARDUP_ORACLE = """
-- exhaustive deterministic run over the generated bundles (all page pairs,
-- dHash hamming <= 2): 34 pairs, 33 of them bit-identical renders
SELECT CAST(n_pairs AS BIGINT) AS n_pairs, CAST(h0 AS BIGINT) AS h0,
       CAST(sum_a AS BIGINT) AS sum_a, CAST(sum_b AS BIGINT) AS sum_b
FROM (VALUES (34, 33, 10601859, 19101744)) AS v(n_pairs, h0, sum_a, sum_b)
"""


def q_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality RMS envelope over deterministic synthetic PCM clips
    (sine bursts + silence; raw int16 needs no codec — fully real path)."""
    import math
    import struct as _struct

    from ..operators.multimodal import pcm_rms_windows

    sr = 8000
    clips = []
    for cid in range(4):
        # cid cycles amplitude; second half of each clip is silence
        amp = 2000 * (cid + 1)
        tone = [int(amp * math.sin(2 * math.pi * 440 * t / sr)) for t in range(sr // 2)]
        pcm = tone + [0] * (sr // 4)
        clips.append((cid, bytearray(_struct.pack(f"<{len(pcm)}h", *pcm))))
    src = spark.createDataFrame(clips, "clip_id long, payload binary")
    out = pcm_rms_windows(src, "clip_id", "payload", sample_rate=sr, window_ms=250)
    return out.select(
        F.col("id").alias("clip_id"),
        F.col("window_idx").cast("long").alias("window_idx"),
        F.col("n_samples").cast("long").alias("n_samples"),
        "rms",
    )


AUDIO_RMS_ORACLE = values_oracle(
    # deterministic sine-burst fixture: RMS ~ amp/sqrt(2) per 250 ms tone
    # window, exact 0 for the silence tail (values pinned from the pure
    # numpy computation)
    [
        (0, 0, 2000, 1413.852743), (0, 1, 2000, 1413.852743), (0, 2, 2000, 0.0),
        (1, 0, 2000, 2828.109885), (1, 1, 2000, 2828.109885), (1, 2, 2000, 0.0),
        (2, 0, 2000, 4242.173012), (2, 1, 2000, 4242.173012), (2, 2, 2000, 0.0),
        (3, 0, 2000, 5656.469926), (3, 1, 2000, 5656.469926), (3, 2, 2000, 0.0),
    ],
    [("clip_id", "BIGINT"), ("window_idx", "BIGINT"), ("n_samples", "BIGINT"), ("rms", "DOUBLE")],
)


# page heights (px; every page is 640 wide, scale 3) of each turn of the
# first 12 conversations of the OCR-only generator corpus
# (make_transcripts(n, ocr_ratio=1.0, html_ratio=0.0)), pinned by the
# deterministic generator; the bundle/frame oracles below and the OCR
# exactness oracles of __spark_entry__.py all derive from this one table
OCR_PAGE_HEIGHTS = [
    [(165, 165), (165,), (69, 69), (117,), (117, 69), (117,), (117,), (69,), (69,), (69,),
     (165, 117), (165, 165)],
    [(69,), (69, 117), (69,)],
    [(117,), (165,), (69,), (117, 117), (117,), (165, 165), (117,), (117,), (117,),
     (165, 117), (117, 69), (117, 117), (165,)],
    [(165, 69), (117,), (165, 117), (117, 165), (165,), (165,), (69, 165), (117,), (117,),
     (117,), (117,), (165,), (117, 165)],
    [(69,), (117, 165), (117, 117), (117, 117), (69, 165), (165,), (69, 117), (165, 165),
     (165,)],
    [(69, 117), (117,), (117,), (165,), (165,), (165,), (117,), (117,), (165,), (165,), (69,),
     (165,)],
    [(165,), (69,), (165,), (69, 69), (117,), (69,), (117,), (165,), (117, 69), (69,),
     (117, 165), (165,), (117, 165), (165, 69)],
    [(165, 117), (117, 117), (117, 165), (69, 117), (117,), (117, 165), (69,), (165, 165),
     (165, 117), (117,), (117,)],
    [(117, 117), (117, 117), (165, 117), (117,), (117, 165), (117, 117), (165, 117), (165,),
     (165, 117), (165, 117), (165, 165), (165, 117), (117,)],
    [(165,), (117, 117), (165,), (117,)],
    [(165, 117), (165,), (117,), (117, 117), (165,), (117, 117), (165,), (69, 117), (117,),
     (165,), (117, 117), (69, 117)],
    [(117, 165), (165,), (117, 165), (69, 165)],
]


def _bundle_turns(n_convs: int) -> list[tuple[int, tuple[int, ...]]]:
    """(turn_key = conv_idx*1000 + turn_idx, page heights) per turn."""
    return [
        (c * 1000 + t, heights)
        for c, turns in enumerate(OCR_PAGE_HEIGHTS[:n_convs])
        for t, heights in enumerate(turns)
    ]


def _bundles_from_corpus(spark: SparkSession, n_convs: int = 8):
    from ..sources.corpus import make_transcripts

    gen = make_transcripts(spark, n_convs, partitions=2, ocr_ratio=1.0, html_ratio=0.0)
    # stable numeric key conv_idx*1000 + turn_idx (monotonically_increasing_id
    # would be partition-dependent and unoraclable)
    return gen.select(
        (
            F.regexp_extract("conv_id", r"conv-(\d+)", 1).cast("long") * 1000
            + F.col("turn_idx").cast("long")
        ).alias("row_id"),
        F.unbase64(F.get_json_object("tool", "$.b64")).alias("payload"),
    )


def q_bundle_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary page-bundle metadata extraction (multimodal opaque-bytes
    path), keyed by (conv_id, turn_idx) and flattened to CSV strings so the
    deterministic generator output pins a VALUES oracle."""
    from ..operators.multimodal import page_bundle_metadata

    meta = page_bundle_metadata(_bundles_from_corpus(spark, 10), "row_id", "payload")
    return meta.select(
        F.col("id").alias("turn_key"),
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("scale").cast("long").alias("scale"),
        F.concat_ws(",", F.transform("heights", lambda h: h.cast("string"))).alias("heights_csv"),
        F.concat_ws(",", F.transform("widths", lambda w: w.cast("string"))).alias("widths_csv"),
    )


BUNDLE_METADATA_ORACLE = values_oracle(
    [
        (key, len(hs), 3, ",".join(map(str, hs)), ",".join(["640"] * len(hs)))
        for key, hs in _bundle_turns(10)
    ],
    [("turn_key", "BIGINT"), ("n_pages", "BIGINT"), ("scale", "BIGINT"),
     ("heights_csv", "VARCHAR"), ("widths_csv", "VARCHAR")],
)


def q_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page pixel feature extraction (image feature-extractor stand-in):
    dims + ink ratio + mean intensity, summarized per page height class so
    the deterministic generator pins a VALUES oracle."""
    from ..operators.multimodal import page_pixel_stats

    stats = page_pixel_stats(_bundles_from_corpus(spark, 8), "row_id", "payload")
    stats = stats.select(
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
        "ink_ratio", "mean_intensity",
    )
    return stats.groupBy("height", "width").agg(
        F.count("*").alias("n_pages"),
        F.round(F.avg("ink_ratio"), 6).alias("avg_ink_ratio"),
        F.round(F.avg("mean_intensity"), 6).alias("avg_intensity"),
    )


PIXEL_STATS_ORACLE = """
-- generator-pinned per-height-class pixel stats (8 deterministic convs)
SELECT CAST(height AS BIGINT) AS height, CAST(width AS BIGINT) AS width,
       CAST(n_pages AS BIGINT) AS n_pages,
       CAST(avg_ink_ratio AS DOUBLE) AS avg_ink_ratio,
       CAST(avg_intensity AS DOUBLE) AS avg_intensity
FROM (VALUES
  (69, 640, 27, 0.068237, 237.599638),
  (117, 640, 51, 0.06649, 238.045072),
  (165, 640, 44, 0.072552, 236.499329)
) AS v(height, width, n_pages, avg_ink_ratio, avg_intensity)
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (video analog): keep every 2nd page of each bundle."""
    from ..operators.multimodal import frame_sample

    out = frame_sample(_bundles_from_corpus(spark, 8), "row_id", "payload", every_k=2)
    return out.select(
        F.col("id").alias("turn_key"),
        F.col("page_idx").cast("long").alias("page_idx"),
        F.col("height").cast("long").alias("height"),
        F.col("width").cast("long").alias("width"),
    )


FRAME_SAMPLE_ORACLE = values_oracle(
    [
        (key, i, h, 640)
        for key, hs in _bundle_turns(8)
        for i, h in enumerate(hs)
        if i % 2 == 0
    ],
    [("turn_key", "BIGINT"), ("page_idx", "BIGINT"), ("height", "BIGINT"), ("width", "BIGINT")],
)


def q_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomalies over the events stream (exact integer
    formulation — bit-identical across engines where windowed float sums
    are not)."""
    from ..operators.relational import rolling_anomalies

    ev = _read(spark, sf_dir, "events")
    out = rolling_anomalies(ev, lookback=20, min_n=10, z=3)
    return out.select("user_id", "event_id", "value", F.col("window_n").cast("long").alias("window_n"))


ANOMALIES_ORACLE = """
WITH scaled AS (
  SELECT user_id, event_id, ts, value,
         CAST(round(value * 100) AS BIGINT) AS iv
  FROM events
),
stats AS (
  SELECT user_id, event_id, value, iv,
         count(*) OVER w AS n,
         sum(iv) OVER w AS sx,
         sum(iv * iv) OVER w AS sxx
  FROM scaled
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, value, CAST(n AS BIGINT) AS window_n
FROM stats
WHERE n >= 10 AND (n * iv - sx) * (n * iv - sx) > 9 * (n * sxx - sx * sx)
"""
