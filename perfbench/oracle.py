"""Reference answers for the batch workload, recomputed with DuckDB
from the same CSV files the engine reads."""

from __future__ import annotations

import duckdb

_REVIEW_COLS = (
    "{'review_id': 'VARCHAR', 'user_id': 'VARCHAR', 'business_id': 'VARCHAR',"
    " 'stars': 'VARCHAR', 'date': 'VARCHAR', 'text': 'VARCHAR',"
    " 'useful': 'VARCHAR', 'funny': 'VARCHAR', 'cool': 'VARCHAR'}"
)


def _csv(path: str, columns: str) -> str:
    return (
        f"read_csv('{path}', header=true, quote='\"', escape='\"', "
        f"ignore_errors=true, columns={columns})"
    )


def batch_answers(paths: dict[str, str], n_reviews: int) -> dict:
    """Quarantine and preprocess counts plus the four EDA results.

    Mirrors the batch semantics: rows the CSV reader rejects are
    quarantined; then rows with a non-numeric or out-of-range [1, 5]
    star value or a NULL text/useful/funny/cool are dropped; users and
    businesses are left-joined; text is cleaned to letters and single
    spaces. Top categories order by count desc, category asc.
    """
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE raw AS SELECT * FROM {_csv(paths['review'], _REVIEW_COLS)}")
        con.execute(
            "CREATE TABLE usr AS SELECT DISTINCT user_id, elite FROM "
            + _csv(paths["user"], "{'user_id': 'VARCHAR', 'elite': 'VARCHAR'}")
        )
        con.execute(
            "CREATE TABLE biz AS SELECT DISTINCT business_id, state, categories FROM "
            + _csv(paths["business"], "{'business_id': 'VARCHAR', 'state': 'VARCHAR',"
                   " 'categories': 'VARCHAR'}")
        )
        n_parsed = con.execute("SELECT count(*) FROM raw").fetchone()[0]
        con.execute("""
            CREATE TABLE pre AS
            SELECT r.review_id, r.stars, TRY_CAST(r.stars AS DOUBLE) AS label,
                   u.elite, b.categories,
                   trim(regexp_replace(r.text, '[^A-Za-z]+', ' ', 'g')) AS text
            FROM raw r
            LEFT JOIN usr u USING (user_id)
            LEFT JOIN biz b USING (business_id)
            WHERE TRY_CAST(r.stars AS DOUBLE) BETWEEN 1 AND 5
              AND r.text IS NOT NULL AND r.useful IS NOT NULL
              AND r.funny IS NOT NULL AND r.cool IS NOT NULL
        """)
        n_pre = con.execute("SELECT count(*) FROM pre").fetchone()[0]
        stars = con.execute(
            "SELECT stars, count(*) FROM pre GROUP BY stars ORDER BY stars"
        ).fetchall()
        top_cats = con.execute("""
            SELECT category, count(*) AS c FROM (
                SELECT unnest(string_split(categories, ';')) AS category
                FROM pre WHERE label >= 4)
            WHERE category NOT IN ('0', '1') AND category <> ''
            GROUP BY category ORDER BY c DESC, category LIMIT 10
        """).fetchall()
        elite = con.execute("""
            SELECT CAST(elite IS NOT NULL AND elite <> 'None' AS INTEGER) AS e,
                   stars, count(*)
            FROM pre GROUP BY e, stars ORDER BY e, stars
        """).fetchall()
        con.execute("""
            CREATE TABLE wc AS SELECT CAST(
                len(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'))
                AS DOUBLE) AS w FROM pre
        """)
        hist = con.execute("""
            WITH b AS (SELECT min(w) AS lo, max(w) AS hi FROM wc)
            SELECT CAST(CASE WHEN hi = lo THEN 0
                             ELSE least(floor((w - lo) / ((hi - lo) / 10)), 9)
                        END AS INTEGER) AS bucket, count(*)
            FROM wc, b GROUP BY bucket ORDER BY bucket
        """).fetchall()
    finally:
        con.close()
    counts = dict(hist)
    return {
        "rows_in": n_reviews,
        "rows_quarantined": n_reviews - n_parsed,
        "rows_clean": n_parsed,
        "rows_preprocessed": n_pre,
        "star_distribution": [(s, c) for s, c in stars],
        "top_categories": [(k, c) for k, c in top_cats],
        "elite_vs_non": [(e, s, c) for e, s, c in elite],
        "word_count_histogram": [(b, counts.get(b, 0)) for b in range(10)],
    }
