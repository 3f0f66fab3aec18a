"""Independent DuckDB replay of the phospho-LFQ volcano table.

Recomputes, from the generated site table alone, what the S-1 chain
must produce: the surviving feature set (`id___k`), each feature's
per-group observation counts, and its log2 ratio (mean Treat minus mean
Control over technical-replicate medians)."""
import duckdb

from gen import lfq_labels

REPLAY = """
WITH filtered AS (
  SELECT * FROM sites
  WHERE NOT coalesce(contains("Reverse", '+'), false)
    AND coalesce("Potential contaminant", '') <> '+'
    AND CAST("Localization prob" AS DOUBLE) >= 0.75),
long AS (
  SELECT id || regexp_extract(cell, '(___[123])$', 1) AS id,
         regexp_replace(cell, '___[123]$', '') AS sample,
         CASE WHEN CAST(raw AS DOUBLE) > 0 THEN log2(CAST(raw AS DOUBLE)) END AS v
  FROM (UNPIVOT filtered ON COLUMNS('^Intensity .*___[123]$') INTO NAME cell VALUE raw)),
centered AS (
  SELECT l.id, l.sample, l.v - m.med AS v
  FROM long l JOIN (SELECT sample, median(v) AS med FROM long GROUP BY sample) m USING (sample)),
annotated AS (
  SELECT c.id, c.v, d."Group" AS grp, d.Replicate AS rep
  FROM centered c JOIN design d ON trim(regexp_replace(c.sample, '^Intensity ', '')) = d.Label),
valid AS (
  SELECT * FROM annotated WHERE id IN (
    SELECT id FROM (SELECT id, grp, count(v) AS n FROM annotated GROUP BY id, grp)
    GROUP BY id HAVING max(n) >= 2)),
collapsed AS (
  SELECT id, grp, median(v) AS v FROM valid GROUP BY id, grp, rep)
SELECT id,
       count(v) FILTER (WHERE grp = 'Control') AS n_a,
       count(v) FILTER (WHERE grp = 'Treat') AS n_b,
       avg(v) FILTER (WHERE grp = 'Treat') - avg(v) FILTER (WHERE grp = 'Control') AS ratio
FROM collapsed GROUP BY id
HAVING n_a >= 2 AND n_b >= 2
"""


def replay(sites_tsv, design_tsv):
    """{id: (n_a, n_b, ratio)} computed by DuckDB."""
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute(f"CREATE TABLE sites AS SELECT * FROM read_csv('{sites_tsv}', delim='\t', "
                "header=true, all_varchar=true)")
    con.execute(f"CREATE TABLE design AS SELECT * FROM read_csv('{design_tsv}', delim='\t', "
                "header=true, columns={'Label': 'VARCHAR', 'Group': 'VARCHAR', "
                "'Timepoint': 'INTEGER', 'Replicate': 'INTEGER', 'Technical': 'VARCHAR'})")
    assert con.execute("SELECT count(*) FROM design").fetchone()[0] == len(lfq_labels())
    return {r[0]: (int(r[1]), int(r[2]), float(r[3])) for r in con.execute(REPLAY).fetchall()}


def compare(expected, volcano_tsv, tol=1e-6):
    """Mismatch descriptions between the replay and the chain's volcano
    table (empty when they agree)."""
    got = {}
    with open(volcano_tsv) as f:
        next(f)
        for line in f:
            i, na, nb, ratio = line.rstrip("\n").split("\t")
            got[i] = (int(na), int(nb), float(ratio))
    problems = []
    if set(got) != set(expected):
        problems.append(f"feature sets differ: {len(set(got) - set(expected))} extra, "
                        f"{len(set(expected) - set(got))} missing")
    for i in sorted(set(got) & set(expected)):
        (ga, gb, gr), (ea, eb, er) = got[i], expected[i]
        if (ga, gb) != (ea, eb) or abs(gr - er) > tol * max(1.0, abs(er)):
            problems.append(f"{i}: chain ({ga}, {gb}, {gr!r}) vs replay ({ea}, {eb}, {er!r})")
    return problems
