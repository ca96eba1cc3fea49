"""Independent expectations for the graph_queries workload.

Every GraphQueries call the harness timed is replayed once, untimed, in
DuckDB over the parquet version it read, as the SQL shapes of the
reference's examples/sql_queries.md and README (recursive CTEs for the
traversals). Results are compared by the same order-independent digest
the harness computes (Harness.signature): rows rendered with columns in
name order, timestamp columns dropped, doubles rounded to 1e-6, sorted,
md5'd.
"""
import hashlib
import math

import duckdb

TIMESTAMP_COLUMNS = {"created_at", "parsed_at"}


def q(v):
    return "'" + v.replace("'", "''") + "'"


PC = ("pc AS (SELECT source_node_id AS src, target_node_id AS dst "
      "FROM cross_references WHERE reference_type = 'parent_child')")


def sql(op, a):
    if op == "nodesByType":
        return f"SELECT * FROM nodes WHERE node_type = {q(a[0])}"
    if op == "contentSearch":
        return f"SELECT * FROM nodes WHERE content LIKE {q('%' + a[0] + '%')}"
    if op == "xpathSearch":
        return f"SELECT * FROM nodes WHERE xpath LIKE {q(a[0])}"
    if op == "searchByAttribute":
        return ("SELECT n.*, np.property_value FROM nodes n JOIN node_properties"
                f" np ON n.id = np.node_id WHERE np.property_name = {q(a[0])}"
                f" AND np.property_value = {q(a[1])}")
    if op == "propertiesOfType":
        return ("SELECT n.id, n.node_type, np.property_name, np.property_value "
                "FROM nodes n JOIN node_properties np ON n.id = np.node_id "
                f"WHERE n.node_type = {q(a[0])} AND np.property_name = {q(a[1])}")
    if op == "eavConjunction":
        return ("SELECT DISTINCT n.id, n.node_type FROM nodes n "
                "JOIN node_properties a ON n.id = a.node_id "
                "JOIN node_properties b ON n.id = b.node_id "
                f"WHERE a.property_name = {q(a[0])} AND a.property_value = "
                f"{q(a[1])} AND b.property_name = {q(a[2])} AND b.data_type = "
                f"{q(a[3])}")
    if op == "pivotProperties":
        cols = ", ".join(f"max(CASE WHEN property_name = {q(n)} THEN "
                         f"property_value END) AS \"{n}\"" for n in a)
        names = ", ".join(q(n) for n in a)
        return (f"SELECT node_id, {cols} FROM node_properties "
                f"WHERE property_name IN ({names}) GROUP BY node_id")
    if op == "propertiesByDataType":
        return ("SELECT property_name, property_value, data_type FROM "
                f"node_properties WHERE data_type = {q(a[0])}")
    if op == "countByType":
        return "SELECT node_type, count(*) AS count FROM nodes GROUP BY node_type"
    if op == "statistics":
        return ("SELECT count(*) AS total_nodes, count(DISTINCT node_type) AS "
                "node_types, count(DISTINCT document_id) AS documents, "
                "(SELECT count(*) FROM cross_references) AS cross_refs FROM nodes")
    if op == "relationshipSummary":
        return ("SELECT reference_type, count(*) AS total_count, avg(confidence)"
                " AS avg_confidence, min(confidence) AS min_confidence, "
                "max(confidence) AS max_confidence, count(DISTINCT "
                "source_node_id) AS unique_sources, count(DISTINCT "
                "target_node_id) AS unique_targets FROM cross_references "
                "GROUP BY reference_type")
    if op == "relationshipsOf":
        i = q(a[0])
        return (f"SELECT CASE WHEN source_node_id = {i} THEN target_node_id "
                "ELSE source_node_id END AS related_node, reference_type, "
                f"CASE WHEN source_node_id = {i} THEN 'outgoing' ELSE "
                "'incoming' END AS direction, confidence FROM cross_references "
                f"WHERE source_node_id = {i} OR target_node_id = {i}")
    if op in ("directChildren", "siblingsOf"):
        t, c = (("parent_child", "child_id") if op == "directChildren"
                else ("sibling", "sibling_id"))
        return (f"SELECT cr.target_node_id AS {c}, n.node_type, n.content "
                "FROM cross_references cr JOIN nodes n ON cr.target_node_id = "
                f"n.id WHERE cr.source_node_id = {q(a[0])} AND "
                f"cr.reference_type = '{t}'")
    if op == "referencesTo":
        return ("SELECT cr.source_node_id, cr.attribute_name, cr.confidence, "
                "n.node_type, n.content FROM cross_references cr JOIN nodes n "
                "ON cr.source_node_id = n.id WHERE cr.target_node_id = "
                f"{q(a[0])} AND cr.reference_type = 'attribute_reference'")
    if op == "brokenReferences":
        return ("SELECT DISTINCT target_node_id AS missing_node_id FROM "
                "cross_references cr WHERE NOT EXISTS (SELECT 1 FROM nodes n "
                "WHERE n.id = cr.target_node_id)")
    if op == "relationshipCounts":
        return ("SELECT n.id, n.node_type, coalesce(o.c, 0) AS "
                "outgoing_relationships, coalesce(i.c, 0) AS "
                "incoming_relationships, coalesce(o.c, 0) + coalesce(i.c, 0) "
                "AS total_relationships FROM nodes n LEFT JOIN (SELECT "
                "source_node_id AS id, count(*) AS c FROM cross_references "
                "GROUP BY 1) o ON n.id = o.id LEFT JOIN (SELECT target_node_id"
                " AS id, count(*) AS c FROM cross_references GROUP BY 1) i "
                "ON n.id = i.id")
    if op == "mostConnected":
        return ("WITH e AS (SELECT source_node_id AS id FROM cross_references "
                "UNION ALL SELECT target_node_id FROM cross_references), "
                "c AS (SELECT id, count(*) AS connection_count FROM e GROUP BY"
                " id) SELECT c.id, c.connection_count, n.node_type, n.content "
                "FROM c JOIN nodes n ON c.id = n.id ORDER BY connection_count "
                f"DESC, c.id LIMIT {int(a[0])}")
    if op == "bidirectionalPairs":
        return ("SELECT a.source_node_id AS node1_id, a.target_node_id AS "
                "node2_id, a.reference_type, a.confidence, a.attribute_name, "
                "true AS is_bidirectional FROM cross_references a JOIN "
                "cross_references b ON a.source_node_id = b.target_node_id AND"
                " a.target_node_id = b.source_node_id AND a.reference_type = "
                "b.reference_type")
    if op == "nodeTree":
        return ("WITH RECURSIVE t(node, depth) AS (SELECT id, 0 FROM nodes "
                "WHERE parent_id IS NULL UNION ALL SELECT n.id, t.depth + 1 "
                "FROM t JOIN nodes n ON n.parent_id = t.node WHERE t.depth < "
                "10) SELECT n.id, n.node_type, n.parent_id, n.content, "
                "t.depth AS level FROM t JOIN nodes n ON t.node = n.id")
    if op == "ancestors":
        return (f"WITH RECURSIVE {PC}, a(node, depth, path) AS (SELECT "
                f"DISTINCT dst, 0, dst FROM pc WHERE dst = {q(a[0])} UNION ALL"
                " SELECT pc.src, a.depth + 1, pc.src || ' -> ' || a.path FROM a"
                " JOIN pc ON pc.dst = a.node WHERE a.depth < 10) SELECT node "
                "AS ancestor_id, depth, path FROM a WHERE depth > 0")
    if op == "descendants":
        return (f"WITH RECURSIVE {PC}, d(node, depth, path) AS (SELECT "
                f"DISTINCT src, 0, src FROM pc WHERE src = {q(a[0])} UNION ALL"
                " SELECT pc.dst, d.depth + 1, d.path || ' -> ' || pc.dst FROM d"
                " JOIN pc ON pc.src = d.node WHERE d.depth < 10) SELECT node "
                "AS descendant_id, depth, path FROM d WHERE depth > 0")
    if op == "hierarchicalPaths":
        return (f"WITH RECURSIVE {PC}, h(descendant_id, ancestor_id, depth, "
                "path) AS (SELECT dst, src, 1, src || ' -> ' || dst FROM pc "
                "UNION ALL SELECT h.descendant_id, pc.src, h.depth + 1, "
                "pc.src || ' -> ' || h.path FROM h JOIN pc ON pc.dst = "
                "h.ancestor_id WHERE h.depth < 10) SELECT * FROM h")
    raise KeyError(op)


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return str(math.floor(v * 1e6 + 0.5))
    return str(v)


def signature(cur, rows):
    names = [d[0] for d in cur.description]
    keep = sorted((n, i) for i, n in enumerate(names)
                  if n not in TIMESTAMP_COLUMNS)
    lines = sorted("\u0001".join(canon(r[i]) for _, i in keep) for r in rows)
    return {"rows": len(rows),
            "md5": hashlib.md5("\n".join(lines).encode()).hexdigest(),
            "columns": [n for n, _ in keep]}


class Replay:
    """One DuckDB connection; views are re-pointed per graph version."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.version = None

    def use(self, vdir):
        if vdir == self.version:
            return
        for name, glob in (("documents", "documents/*.parquet"),
                           ("nodes", "nodes/*/*.parquet"),
                           ("node_properties", "node_properties/*.parquet"),
                           ("cross_references", "cross_references/*.parquet")):
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet("
                f"{q(vdir + '/' + glob)}, hive_partitioning = true)")
        self.version = vdir

    def expect(self, vdir, op, args):
        self.use(vdir)
        cur = self.con.execute(sql(op, args))
        return signature(cur, cur.fetchall())
