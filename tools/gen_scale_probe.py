#!/usr/bin/env python3
"""Generate the sf1-scale probe tables (10x sf0.1) for the heavy-family
scaling-exponent measurement (BENCH_NOTES.md "sf1 scaling probe").

Writes bench_sf1/{documents,events,embeddings}.parquet at the repository
root with the SAME statistical shape as the sf0.1 testdata (measured, not
guessed):

  documents: 50,000 rows (10x 5,000); 31-word vocabulary; 10..100 words
  per doc uniform; lang mix en 40% / de,es,fr,zh 15%; 20 sources;
  ~0.16% planted exact duplicates (8/5000 at sf0.1 -> 80/50000 here).
  events: 1,000,000 rows (10x 100,000); 15,000 users (10x 1,500 -- the
  per-user event density stays constant, the honest way to scale a
  stream); 5 event types uniform; 30-day timestamp span.
  embeddings: 20,000 rows (10x 2,000); 64-wide unit-norm vectors with
  Gaussian components (sd 0.125); 10 labels uniform, carrying no geometry.

Deterministic: every random choice is a DuckDB hash() of the row id.
The probe tables are local build artifacts (gitignored); this script is
the committed, reproducible source.
"""
import os
import duckdb

OUT = os.path.join(os.path.dirname(__file__), "..", "bench_sf1")
os.makedirs(OUT, exist_ok=True)
con = duckdb.connect()

# the sf0.1 vocabulary, measured from the driver's own table
vocab = [r[0] for r in con.execute("""
  SELECT DISTINCT unnest(string_split(text, ' ')) AS w
  FROM read_parquet('/root/testdata/sf0.1/documents.parquet')
  ORDER BY 1""").fetchall()]
assert len(vocab) == 31, len(vocab)
vlist = "[" + ",".join("'" + w + "'" for w in vocab) + "]"

con.execute(f"""
CREATE TABLE docs AS
WITH base AS (
  SELECT i AS doc_id,
    array_to_string(list_transform(
      range(CAST(10 + abs(hash(i * 31 + 7)) % 91 AS BIGINT)),
      j -> ({vlist})[CAST(1 + abs(hash(i * 131071 + j * 8191 + 3)) % 31 AS BIGINT)]),
      ' ') AS text,
    CASE
      WHEN abs(hash(i * 13 + 1)) % 100 < 40 THEN 'en'
      WHEN abs(hash(i * 13 + 1)) % 100 < 55 THEN 'de'
      WHEN abs(hash(i * 13 + 1)) % 100 < 70 THEN 'es'
      WHEN abs(hash(i * 13 + 1)) % 100 < 85 THEN 'fr'
      ELSE 'zh' END AS lang,
    'src' || CAST(abs(hash(i * 17 + 5)) % 20 AS VARCHAR) AS source
  FROM (SELECT unnest(range(50000)) AS i))
SELECT b.doc_id,
  -- plant exact duplicates at the sf0.1 rate: every 625th doc copies
  -- its predecessor's text
  CASE WHEN b.doc_id % 625 = 624 THEN p.text ELSE b.text END AS text,
  b.lang, b.source,
  CAST(strlen(CASE WHEN b.doc_id % 625 = 624 THEN p.text
              ELSE b.text END) AS BIGINT) AS n_chars
FROM base b LEFT JOIN base p ON p.doc_id = b.doc_id - 1
ORDER BY b.doc_id""")
con.execute(f"COPY docs TO '{OUT}/documents.parquet' (FORMAT PARQUET)")

con.execute(f"""
CREATE TABLE ev AS
SELECT i AS event_id,
  TIMESTAMP '2024-01-01 00:00:00'
    + to_microseconds(CAST(abs(hash(i * 37 + 11)) %
        (30::BIGINT * 86400 * 1000000) AS BIGINT)) AS ts,
  CAST(abs(hash(i * 41 + 13)) % 15000 AS BIGINT) AS user_id,
  (['signup','click','error','view','purchase'])
    [CAST(1 + abs(hash(i * 43 + 17)) % 5 AS BIGINT)] AS event_type,
  round(CAST(abs(hash(i * 47 + 19)) % 20000 AS DOUBLE) / 100, 2) AS value,
  '{{"k": ' || CAST(abs(hash(i * 53 + 23)) % 100 AS VARCHAR) || '}}' AS props
FROM (SELECT unnest(range(1000000)) AS i)
ORDER BY ts""")
con.execute(f"COPY ev TO '{OUT}/events.parquet' (FORMAT PARQUET)")

# embeddings: the sf0.1 table, measured: 2,000 unit-norm 64-wide vectors
# whose components look independent Gaussian (sd 0.12500 = 1/sqrt(64)),
# and 10 labels of 182-218 rows that carry no geometry (per-label
# centroid norms 0.06-0.07, what noise gives at ~200 rows). Write the
# same shape 10x: 20,000 vectors of Box-Muller normals from hash
# uniforms, normalised to unit norm, labels uniform over 10.
dim, n_labels = 64, 10
con.execute(f"""
CREATE TABLE emb AS
WITH u AS (
  SELECT i, j,
    (CAST(hash(i * {dim} + j, 1) >> 11 AS DOUBLE) + 0.5) / 9007199254740992.0 AS u1,
    (CAST(hash(i * {dim} + j, 2) >> 11 AS DOUBLE) + 0.5) / 9007199254740992.0 AS u2
  FROM (SELECT unnest(range(20000)) AS i), (SELECT unnest(range({dim})) AS j)),
g AS (
  SELECT i, list(sqrt(-2 * ln(u1)) * cos(2 * pi() * u2) ORDER BY j) AS v
  FROM u GROUP BY i)
SELECT CAST(i AS BIGINT) AS vec_id,
  CAST(list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS FLOAT[])
    AS embedding,
  CAST(abs(hash(i * 59 + 29)) % {n_labels} AS INTEGER) AS label
FROM g ORDER BY vec_id""")
con.execute(f"COPY emb TO '{OUT}/embeddings.parquet' (FORMAT PARQUET)")

print("docs:", con.execute(f"""
  SELECT count(*), avg(strlen(text)),
    count(*) - count(DISTINCT md5(text))
  FROM read_parquet('{OUT}/documents.parquet')""").fetchall())
print("events:", con.execute(f"""
  SELECT count(*), count(DISTINCT user_id)
  FROM read_parquet('{OUT}/events.parquet')""").fetchall())
print("embeddings:", con.execute(f"""
  SELECT count(*), count(DISTINCT label), stddev_pop(x)
  FROM (SELECT label, unnest(embedding) AS x
        FROM read_parquet('{OUT}/embeddings.parquet'))""").fetchall())
