"""DuckDB reference results for the benchmark's output checks.

`hash_sql` runs a def's oracle SQL over the run's parquet tables and hashes
the rows under the same canonical rules as `Canon.scala`: columns sorted by
name, each value rendered the way Python's `str()` renders it (floats and
decimals as `%.9g`, timestamps as naive UTC), rows sorted, SHA-1.
"""
import datetime
import decimal
import hashlib
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("set threads to 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")
    return con


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return f"{float(v):.9g}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ", ".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(canon(x) for x in v) + "]"
    return str(v)


def hash_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha1("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def hash_sql(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return {"hash": hash_rows(cols, rows), "rows": len(rows)}


D10_KEPT = """
with arr as (select * from {arrivals}),
corpus as (select doc_id, text, -1 as b, doc_id as pos from documents
           where doc_id in (select doc_id from '{boot}')),
alld as (select * from corpus union all select doc_id, text, b, doc_id from arr),
toks as (select doc_id, b, pos, string_split(text, ' ') as t from alld),
sh as (select doc_id, b, pos, unnest(list_distinct(list_transform(range(1, len(t)),
       i -> array_to_string(t[i:i+1], ' ')))) as s from toks where len(t) >= 2),
sizes as (select doc_id, count(distinct s) as n from sh group by doc_id),
cand as (select x.doc_id as bid, y.doc_id as aid, count(*) as common
         from sh x join sh y on x.s = y.s
         where x.b >= 0 and (y.b < x.b or (y.b = x.b and y.pos < x.pos))
         group by x.doc_id, y.doc_id),
hits as (select distinct bid from cand join sizes sx on bid = sx.doc_id
         join sizes sy on aid = sy.doc_id
         where common * 1.0 / (sx.n + sy.n - common) >= 0.6)
select doc_id from arr where doc_id not in (select bid from hits) order by doc_id
"""


def ingest_kept(con, arrivals, boot_path):
    """The near-dup stream's kept ids, d10 style: an arriving doc is kept
    unless a bootstrap doc, an earlier batch's doc or a smaller id in its
    own batch has word-bigram Jaccard >= 0.6 with it."""
    sql = D10_KEPT.format(arrivals=arrivals, boot=boot_path)
    return [r[0] for r in con.execute(sql).fetchall()]
