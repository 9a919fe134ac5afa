"""DuckDB oracles for the unregistered IVF maintenance operators.

`emb_ivf_rebalance_plan`, `emb_ivf_split_execute` and
`emb_ivf_merge_execute` (`plans/embedding_pack.py`) are run by
`scripts/run_embedding_pipeline.py`, not registered as gate queries, so
their oracle SQL lives with the tests that check them against it.
"""

from __future__ import annotations

from hive_server_spark.functions import embeddings as E
from hive_server_spark.plans.embedding_pack import _IVF_K, _ivf_build_oracle


def _ivf_rebalance_oracle() -> str:
    return f"""
WITH census AS ({_ivf_build_oracle()}),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS nv,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM census
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_vecs AS BIGINT)     AS n_vecs,
       CAST(n_vecs * k AS DOUBLE) / CAST(nv AS DOUBLE) AS fill_factor,
       mean_d2_micro,
       CASE WHEN n_vecs * k > 2 * nv THEN 'split'
            WHEN n_vecs * k * 2 < nv THEN 'underfull'
            ELSE 'keep' END AS action,
       CAST(CASE WHEN n_vecs * k > 2 * nv
                 THEN (n_vecs * k + nv - 1) // nv
                 ELSE 1 END AS BIGINT) AS n_subcells,
       CASE WHEN n_vecs * k > 2 * nv THEN
         CAST(row_number() OVER (
           ORDER BY (n_vecs * k > 2 * nv) DESC, mean_d2_micro DESC,
                    cluster_id
         ) AS BIGINT)
       END AS split_priority
FROM census CROSS JOIN tot
"""


def _ivf_split_oracle(k: int = _IVF_K, micro: int = 1_000_000) -> str:
    return f"""
WITH vec AS (
  SELECT vec_id, {E.vec_expr('embedding', 'd')} AS v FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {k}),
d AS (
  SELECT vec.vec_id, c.cid, {E.sqdist_expr('vec.v', 'c.cv', 'd')} AS d2
  FROM vec CROSS JOIN c
), a AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
cells AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM a GROUP BY cid),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS nv,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cells
),
split AS (
  SELECT cid, CAST((n_vecs * k + nv - 1) // nv AS BIGINT) AS n_sub
  FROM cells CROSS JOIN tot WHERE n_vecs * k > 2 * nv
),
members AS (
  SELECT a.cid, a.vec_id, vec.v, s.n_sub
  FROM a JOIN split s USING (cid) JOIN vec USING (vec_id)
),
subseeds AS (
  -- the parent seed comes from the CENTROID table, not the parent's
  -- self-assignment: an exact duplicate vector at a lower cluster_id
  -- ties at d2=0 and steals the parent seed row out of `members`,
  -- which would silently drop the anchor the distortion-never-
  -- increases proof rests on. Parent first, then the
  -- cell's lowest-id OTHER members up to n_sub.
  SELECT cid, sid, sv FROM (
    SELECT s.cid, s.cid AS sid, c.cv AS sv, 1 AS rn, s.n_sub
    FROM split s JOIN c ON c.cid = s.cid
    UNION ALL
    SELECT m.cid, m.vec_id AS sid, m.v AS sv,
           row_number() OVER (PARTITION BY m.cid ORDER BY m.vec_id) + 1
             AS rn,
           m.n_sub
    FROM members m WHERE m.vec_id != m.cid
  ) WHERE rn <= n_sub
),
md AS (
  SELECT m.cid, m.vec_id, s.sid, {E.sqdist_expr('m.v', 's.sv', 'd')} AS d2
  FROM members m JOIN subseeds s ON s.cid = m.cid
),
ma AS (
  SELECT cid, vec_id, sid, d2 FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cid, vec_id ORDER BY d2, sid
    ) AS rn FROM md
  ) WHERE rn = 1
)
SELECT CAST(cid AS BIGINT)  AS parent_id,
       CAST(sid AS BIGINT)  AS subseed_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(vec_id) AS BIGINT) AS posting_checksum,
       CAST(SUM(CAST(floor(d2 * {micro}.0) AS BIGINT)) AS BIGINT)
         AS sum_d2_micro
FROM ma GROUP BY cid, sid
"""


def _ivf_merge_oracle(k: int = _IVF_K, micro: int = 1_000_000) -> str:
    return f"""
WITH vec AS (
  SELECT vec_id, {E.vec_expr('embedding', 'd')} AS v FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {k}),
d AS (
  SELECT vec.vec_id, c.cid, {E.sqdist_expr('vec.v', 'c.cv', 'd')} AS d2
  FROM vec CROSS JOIN c
), a AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
cells AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM a GROUP BY cid),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS nv,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cells
),
surv AS (
  SELECT cid FROM cells CROSS JOIN tot WHERE NOT (n_vecs * k * 2 < nv)
),
c2 AS (SELECT c.cid, c.cv FROM c JOIN surv USING (cid)),
d2_ AS (
  SELECT vec.vec_id, c2.cid, {E.sqdist_expr('vec.v', 'c2.cv', 'd')} AS d2
  FROM vec CROSS JOIN c2
), a2 AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d2_
  ) WHERE rn = 1
), nv2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM a2)
SELECT CAST(cid AS BIGINT)      AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) AS DOUBLE) / CAST(nv AS DOUBLE) AS share,
       CAST(SUM(vec_id) AS BIGINT) AS posting_checksum,
       CAST(SUM(CAST(floor(d2 * {micro}.0) AS BIGINT)) AS BIGINT)
         AS sum_d2_micro,
       CAST(SUM(CAST(floor(d2 * {micro}.0) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_d2_micro
FROM a2 CROSS JOIN nv2
GROUP BY cid, nv
"""
