"""Key-shifted replicas of the vendored fixtures, built with DuckDB.

Replica ``r`` of every table except ``region`` and ``nation`` shifts its keys
by ``r * STRIDE``, so the copies never join across replicas and every
operator sees ``replicas`` times as many groups, not duplicated rows:

- ``customer`` names are regenerated from the shifted key, so name-based
  linkage finds new customers rather than byte-identical copies;
- ``documents`` of replica ``r > 0`` rotate their tokens by ``17 * r``, so
  near-duplicate detection does not collapse the copies;
- ``embeddings`` of replica ``r > 0`` flip signs on an md5-seeded diagonal,
  an exact isometry inside each replica.

Every table is written sorted on its unique key by one DuckDB thread, so the
same input gives the same rows in the same order and the recorded checksums
stay valid. A replica is rebuilt only when the hash of its input files or of
this file changes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

STRIDE = 1_000_000  # larger than every key range of the sf0.1 fixtures
EMB_DIM = 64
STAMP = "input.sha256"


def _signs(r: int) -> list[int]:
    out = []
    for j in range(EMB_DIM):
        h = hashlib.md5(f"replica{r}dim{j}".encode()).digest()[0]
        out.append(1 if h % 2 == 0 else -1)
    return out


def input_hash(src: str, replicas: int) -> str:
    h = hashlib.sha256(f"replicas={replicas}\n".encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    for name in sorted(os.listdir(src)):
        h.update(name.encode())
        with open(os.path.join(src, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _write(src: str, out: str, replicas: int) -> None:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET preserve_insertion_order = true")

    def t(name: str) -> str:
        return f"read_parquet('{src}/{name}.parquet')"

    def copy(sql: str, name: str) -> None:
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    for name in ("region", "nation"):
        copy(f"SELECT * FROM {t(name)}", name)
    rng = f"range({replicas}) rep(r)"
    copy(
        f"""SELECT (c_custkey + r * {STRIDE})::BIGINT AS c_custkey,
                   CASE WHEN r = 0 THEN c_name
                        ELSE 'Customer#' || lpad((c_custkey + r * {STRIDE})::VARCHAR, 9, '0')
                   END AS c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM {rng}, {t('customer')} ORDER BY c_custkey""",
        "customer",
    )
    copy(
        f"""SELECT (s_suppkey + r * {STRIDE})::BIGINT AS s_suppkey, s_name,
                   s_nationkey, s_acctbal
            FROM {rng}, {t('supplier')} ORDER BY s_suppkey""",
        "supplier",
    )
    copy(
        f"""SELECT (p_partkey + r * {STRIDE})::BIGINT AS p_partkey, p_name,
                   p_brand, p_type, p_size, p_retailprice
            FROM {rng}, {t('part')} ORDER BY p_partkey""",
        "part",
    )
    copy(
        f"""SELECT (o_orderkey + r * {STRIDE})::BIGINT AS o_orderkey,
                   (o_custkey + r * {STRIDE})::BIGINT AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM {rng}, {t('orders')} ORDER BY o_orderkey""",
        "orders",
    )
    copy(
        f"""SELECT (l_orderkey + r * {STRIDE})::BIGINT AS l_orderkey,
                   (l_partkey + r * {STRIDE})::BIGINT AS l_partkey,
                   (l_suppkey + r * {STRIDE})::BIGINT AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM {rng}, {t('lineitem')} ORDER BY l_orderkey, l_linenumber""",
        "lineitem",
    )
    copy(
        f"""SELECT (event_id + r * {STRIDE})::BIGINT AS event_id, ts,
                   (user_id + r * {STRIDE})::BIGINT AS user_id,
                   event_type, value, props
            FROM {rng}, {t('events')} ORDER BY event_id""",
        "events",
    )
    rotated = f"""array_to_string(
        list_slice(toks, ((17 * r) % len(toks)) + 1, len(toks))
        || list_slice(toks, 1, (17 * r) % len(toks)), ' ')"""
    copy(
        f"""WITH base AS (
                SELECT r, doc_id, text, lang, source, n_chars,
                       string_split(text, ' ') AS toks
                FROM {rng}, {t('documents')}
            )
            SELECT (doc_id + r * {STRIDE})::BIGINT AS doc_id,
                   CASE WHEN r = 0 THEN text ELSE {rotated} END AS text,
                   lang, source,
                   CASE WHEN r = 0 THEN n_chars ELSE length({rotated})::BIGINT END AS n_chars
            FROM base ORDER BY doc_id""",
        "documents",
    )
    signs = ", ".join(f"({r}, {_signs(r)}::DOUBLE[])" for r in range(replicas))
    copy(
        f"""WITH signs(r, s) AS (VALUES {signs})
            SELECT (vec_id + signs.r * {STRIDE})::BIGINT AS vec_id,
                   CASE WHEN signs.r = 0 THEN embedding
                        ELSE list_transform(generate_series(1, {EMB_DIM}),
                                            i -> (embedding[i] * s[i])::FLOAT)
                   END::FLOAT[] AS embedding,
                   label
            FROM signs, {t('embeddings')} ORDER BY vec_id""",
        "embeddings",
    )
    con.close()


def ensure_replica(src: str, out: str, replicas: int) -> float:
    """Build ``out`` from ``src`` unless its stamp matches; return seconds spent
    building (0.0 when the existing replica is reused)."""
    digest = input_hash(src, replicas)
    stamp = os.path.join(out, STAMP)
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return 0.0
    t0 = time.perf_counter()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _write(src, tmp, replicas)
        with open(os.path.join(tmp, STAMP), "w") as f:
            f.write(digest + "\n")
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return time.perf_counter() - t0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: datagen.py SRC_DIR OUT_DIR REPLICAS")
    print(f"{ensure_replica(sys.argv[1], sys.argv[2], int(sys.argv[3])):.1f} s")
