"""Seeded XML corpora, upsert patches and query parameters for perfbench.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Shapes (file counts, tree shapes, attribute
counts) are fixed per workload and only the ids, names and values vary
with the seed, so every seed costs the engine the same amount of work.

Besides the files, every corpus comes with a manifest of expected
counts after dedup: documents, skipped and salvaged files, nodes,
properties and edges per reference_type. They are computed by
``Model``, a small independent re-statement of the converter's
semantics (last-write-wins on the node id, then on the sibling slot
(parent_id, position); last-write-wins on (node_id, property_name);
the structural, attribute-reference, multi-reference, same-type and
content-similarity edge rules), evaluated on the generator's own
element trees rather than on the written XML.
"""
import functools
import os
import random
import re

ID_RE = [re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$"), re.compile(r"^[a-zA-Z]+_\d+$"),
         re.compile(r"^[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*$")]
MULTI_SPLIT = re.compile(r"[,\s]+")
WORD_RE = re.compile(r"\w+")

# A file with no markup at all: neither the strict nor the salvage parse
# finds a root element, so the converter skips it.
SKIPPED = b"no markup in this file\n"

CORE = ("structural", "attribute_reference")
SCALE = ("structural", "attribute_reference", "multi_reference", "same_type",
         "semantic_lsh")

# Workload shapes. `branching[l]` is the number of children of every
# element at depth l, so all elements of one depth are isomorphic: an
# ancestor's text is then either equal to a descendant's (single-child
# chains) or at least twice as long, which keeps every content-similarity
# pair at Jaccard 1 or <= 0.5 and makes the LSH adapter's output exact.
SHAPES = {
    # few large files: per-node cost (walk, dedup, quadratic adapters)
    "ingest_large_docs": dict(adapters=SCALE, shards=4, files=6,
                              branching=[2, 1, 4, 3, 1, 2, 2, 3, 1, 2],
                              type_group=25, collide_every=2,
                              truncate=(2,), skip=(4,)),
    # the query graph: core adapters, wide sibling families
    "graph_queries": dict(adapters=CORE, files=16,
                          branching=[3, 1, 6, 2, 8, 1, 2],
                          type_group=200, collide_every=0, truncate=(),
                          skip=(), patches=4),
}


@functools.lru_cache(maxsize=None)
def is_id(v):
    return any(p.search(v) for p in ID_RE)


class El:
    __slots__ = ("id", "tag", "attrs", "children", "text")

    def __init__(self, id_, tag, text=None):
        self.id, self.tag, self.attrs = id_, tag, []
        self.children, self.text = [], text


class _Cut(Exception):
    pass


def xml_bytes(root, keep=None):
    """The document; with `keep`, only its prefix up to and including the
    keep-th start tag (preorder) and no text at all, as a truncated file
    whose salvage parse keeps exactly those elements."""
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n']
    started = [0]

    def emit(e):
        attrs = "".join(f' {k}="{v}"' for k, v in [("id", e.id)] + e.attrs)
        out.append(f"<{e.tag}{attrs}>")
        started[0] += 1
        if started[0] == keep:
            raise _Cut
        if keep is None and e.text is not None:
            out.append(f" {e.text} ")
        for c in e.children:
            emit(c)
        out.append(f"</{e.tag}>")
    try:
        emit(root)
    except _Cut:
        pass
    return "".join(out).encode()


def preorder(root):
    stack = [(root, None, 0)]
    while stack:
        e, parent, pos = stack.pop()
        yield e, parent, pos
        for i in range(len(e.children) - 1, -1, -1):
            stack.append((e.children[i], e, i))


class Rand:
    """Seeded source of names and values (string seeds are stable across
    interpreter runs, unlike hash())."""

    def __init__(self, *key):
        self.r = random.Random("/".join(map(str, key)))

    def letters(self, n):
        return "".join(self.r.choice("abcdefghijklmnopqrstuvwxyz")
                       for _ in range(n))

    def scalar(self, i):
        r = self.r
        k = i % 5
        if k == 0:
            return str(r.randrange(10 ** 6))
        if k == 1:
            return f"{r.randrange(1000)}.{r.randrange(100):02d}"
        if k == 2:
            return r.choice(["true", "false", "True"])
        if k == 3:
            return f"20{r.randrange(10, 30)}-{r.randrange(1, 13):02d}-" \
                   f"{r.randrange(1, 29):02d}"
        return self.letters(5) + " " + self.letters(4)


# --- corpus construction ----------------------------------------------

def large_doc(rnd, shape, prefix, fidx, tags):
    """A tree of fixed shape: depth len(branching), same-type families of
    at most `type_group` per depth, dense single and multi references."""
    br = shape["branching"]
    per_depth = [1]
    for b in br:
        per_depth.append(per_depth[-1] * b)
    # same-type families: each depth's elements are dealt round-robin
    # over just enough types that no family exceeds `type_group`
    n_types = [-(-n // shape["type_group"]) for n in per_depth]
    counter = [0]
    words = [0]
    level_seen = [0] * (len(br) + 1)
    all_ids = []

    def make(depth):
        i = level_seen[depth]
        level_seen[depth] += 1
        nid = f"{prefix}{fidx}_{counter[0]}"
        counter[0] += 1
        group = i % n_types[depth]
        text = None
        if depth == len(br):
            text = f"w{rnd.letters(3)}{fidx}x{words[0]}"
            words[0] += 1
        e = El(nid, f"{tags[depth]}{group}", text=text)
        all_ids.append(nid)
        e.attrs = [(f"a{j}", rnd.scalar(j + i)) for j in range(2)]
        if depth < len(br):
            e.children = [make(depth + 1) for _ in range(br[depth])]
        return e

    root = make(0)
    # references are drawn after the tree exists so they can point
    # anywhere in the document (forward and backward)
    refs = ["ref", "target", "owner_id", "see", "link"]
    for n, (e, _, _) in enumerate(preorder(root)):
        if n % 3 == 0:
            e.attrs.append((refs[n % 5], rnd.r.choice(all_ids)))
        if n % 8 == 1:
            toks = [rnd.r.choice(all_ids) for _ in range(2 + n % 2)]
            if n % 16 == 1:
                toks.append(f"{prefix}none{n}")  # id-shaped, resolves nowhere
            e.attrs.append(("refs", ", ".join(toks[:2]) + " " +
                            " ".join(toks[2:])))
        if n % 11 == 5:
            e.attrs.append(("status", "st_" + rnd.letters(4)))
    return root


def corpus_docs(workload, seed, shard=0):
    """[(file name, root El or None for a skipped file, truncate_at)]."""
    shape = SHAPES[workload]
    rnd = Rand(workload, seed, shard)
    prefix = rnd.letters(3)
    docs = []
    tags = [rnd.letters(2) + str(d) + "t" for d in range(len(shape["branching"]) + 1)]
    for f in range(shape["files"]):
        name = f"d{shard}_{f:04d}.xml"
        if f in shape["skip"]:
            docs.append((name, None, None))
            continue
        root = large_doc(rnd, shape, f"{prefix}{shard}x", f, tags)
        ce = shape["collide_every"]
        if ce and f % ce == 1 and docs and docs[-1][1] is not None:
            prev = [e for e, _, _ in preorder(docs[-1][1])]
            mine = [e for e, _, _ in preorder(root)]
            # a leaf takes the previous file's last leaf id (id key), and
            # a depth-(D-1) parent takes the previous file's first one, so
            # its children also collide on (parent_id, position)
            prev_leaf = [e for e in prev if not e.children][-1]
            mine_leaf = [e for e in mine if not e.children][-1]
            mine_leaf.id = prev_leaf.id
            depth_d1 = len(shape["branching"]) - 1
            pp = _at_depth(docs[-1][1], depth_d1)[0]
            mp = _at_depth(root, depth_d1)[0]
            mp.id = pp.id
        trunc = None
        if f in shape["truncate"]:
            trunc = sum(1 for _ in preorder(root)) // 2
        docs.append((name, root, trunc))
    return docs


def _at_depth(root, depth):
    out, frontier = [], [root]
    for _ in range(depth):
        frontier = [c for e in frontier for c in e.children]
    out.extend(frontier)
    return out


# --- the model ----------------------------------------------------------

class Model:
    """Expected tables after ingest dedup (and after upserts), as plain
    Python dicts built straight from the generator's trees."""

    def __init__(self):
        self.docs = set()
        self.nodes = {}   # id -> (doc, tag, parent, pos, content)
        self.props = {}   # (node_id, name) -> (value, doc)
        self.edges = None  # set of edge tuples (upserted versions only)

    @staticmethod
    def rows(name, root, trunc):
        """Per-file rows in arrival order, honouring a salvage cut."""
        doc = name[:-4]
        order = list(preorder(root))
        if trunc is not None:
            order = order[:trunc]
        kept = set(id(e) for e, _, _ in order)
        text = {}

        def collect(e):
            if id(e) in text:
                return text[id(e)]
            parts = []
            if e.text is not None and trunc is None:
                parts.append(f" {e.text} ")
            parts.extend(collect(c) for c in e.children if id(c) in kept)
            text[id(e)] = "".join(parts)
            return text[id(e)]
        nodes, props = [], []
        for e, parent, pos in order:
            nodes.append((e.id, doc, e.tag, parent.id if parent else None,
                          pos, collect(e).strip()))
            props.extend((e.id, k, v, doc) for k, v in e.attrs)
        return doc, nodes, props

    def ingest(self, files):
        """One batch: intra-batch last-write-wins in (filename, ordinal)
        order. Returns the batch's own tables."""
        docs, by_id, props = set(), {}, {}
        arrival = 0
        for name, root, trunc in sorted(files, key=lambda f: f[0]):
            if root is None:
                continue
            doc, nodes, ps = self.rows(name, root, trunc)
            docs.add(doc)
            for n in nodes:
                by_id[n[0]] = (arrival, n[1:])
                arrival += 1
            for nid, k, v, d in ps:
                props[(nid, k)] = (v, d)
        slots = {}
        # the slot pass keeps, per (parent_id, position), the id-survivor
        # that arrived last
        for nid, (_, (d, tag, parent, pos, content)) in sorted(
                by_id.items(), key=lambda kv: kv[1][0]):
            slots[(parent, pos) if parent is not None else (None, nid)] = nid
        nodes = {nid: by_id[nid][1] for nid in slots.values()}
        return docs, nodes, props

    def convert(self, files):
        self.docs, self.nodes, self.props = self.ingest(files)

    def upsert(self, files):
        docs, new_nodes, new_props = self.ingest(files)
        prev_edges = self.edges
        self.docs |= docs
        by_id = dict(self.nodes)
        by_id.update(new_nodes)
        slots = {}
        for nid, n in by_id.items():
            if nid in new_nodes:
                continue
            slots[(n[2], n[3]) if n[2] is not None else (None, nid)] = nid
        for nid, n in new_nodes.items():
            slots[(n[2], n[3]) if n[2] is not None else (None, nid)] = nid
        self.nodes = {nid: by_id[nid] for nid in slots.values()}
        self.props.update(new_props)
        live = {k: v for k, v in self.props.items() if k[0] in self.nodes}
        self.edges = prev_edges | self.edge_set(CORE, live)

    # edges as tuples (source, target, type, attribute_name); duplicates
    # matter for the multi-reference adapter, so counts come from a list
    def edge_list(self, adapters, props=None):
        props = self.props if props is None else props
        out = []
        ids = {(n[0], nid) for nid, n in self.nodes.items()}
        if "structural" in adapters:
            fam = {}
            for nid, (d, tag, parent, pos, content) in self.nodes.items():
                if parent is None:
                    continue
                out.append((parent, nid, "parent_child", None))
                out.append((nid, parent, "child_parent", None))
                fam.setdefault((d, parent), []).append((pos, nid))
            for members in fam.values():
                members.sort()
                for i, (pa, a) in enumerate(members):
                    for pb, b in members[i + 1:]:
                        out.append((a, b, "sibling", None))
                        out.append((b, a, "sibling", None))
                        if pb - pa == 1:
                            out.append((a, b, "next_sibling", None))
                            out.append((b, a, "previous_sibling", None))
        for (nid, name), (v, d) in props.items():
            if "attribute_reference" in adapters and v and is_id(v) \
                    and (d, v) in ids:
                out.append((nid, v, "attribute_reference", name))
            if "multi_reference" in adapters and re.search(r"[,\s]", v):
                for tok in MULTI_SPLIT.split(v):
                    if tok and is_id(tok) and (d, tok) in ids:
                        out.append((nid, tok, "multi_attribute_reference",
                                    name))
        groups = {}
        if "same_type" in adapters:
            for nid, (d, tag, _, _, content) in self.nodes.items():
                groups.setdefault((d, tag), []).append(nid)
            for g in groups.values():
                out.extend((a, b, "same_type", None) for a in g for b in g
                           if a != b)
        if "semantic_lsh" in adapters:
            same = {}
            for nid, (d, _, _, _, content) in self.nodes.items():
                if len(WORD_RE.findall(content.lower())) >= 3:
                    same.setdefault((d, content), []).append(nid)
            for g in same.values():
                out.extend((a, b, "content_similar", None) for a in g
                           for b in g if a != b)
        return out

    def edge_set(self, adapters, props=None):
        return set(self.edge_list(adapters, props))

    def check_similarity_gap(self):
        """Every pair of same-document nodes on one root path has Jaccard
        1 or <= 0.5, so LSH banding (which always pairs identical texts)
        finds exactly the pairs the exact rule keeps. Leaf words are
        unique within a file, so an ancestor's words contain its
        descendant's and the Jaccard is the ratio of the word counts."""
        words = {nid: len(WORD_RE.findall(n[4].lower()))
                 for nid, n in self.nodes.items()}
        for nid, (d, _, parent, _, _) in self.nodes.items():
            seen = set()
            while words[nid] and parent in self.nodes and parent not in seen:
                seen.add(parent)
                pd, _, pparent, _, _ = self.nodes[parent]
                if pd == d:
                    j = words[nid] / words[parent]
                    assert j == 1 or j <= 0.5, (nid, parent, j)
                parent = pparent

    def counts(self, adapters, edges=None):
        edges = self.edge_list(adapters) if edges is None else edges
        per = {}
        for e in edges:
            per[e[2]] = per.get(e[2], 0) + 1
        return {"documents": len(self.docs), "nodes": len(self.nodes),
                "properties": len(self.props), "edges": per}


# --- writing ------------------------------------------------------------

def write_files(out_dir, files):
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, root, trunc in files:
        data = SKIPPED if root is None else xml_bytes(root, trunc)
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def ingest_corpus(workload, seed, out_dir):
    """Shards of one ingest workload + a manifest entry per shard, and a
    smaller corpus of the same shape for the warm-up in set-up."""
    shape = SHAPES[workload]
    warm = corpus_docs(workload, seed, "w")
    write_files(os.path.join(out_dir, "warm"), warm[:1])
    shards = []
    for s in range(shape["shards"]):
        files = corpus_docs(workload, seed, s)
        d = os.path.join(out_dir, f"shard{s}")
        nbytes = write_files(d, files)
        m = Model()
        m.convert(files)
        if "semantic_lsh" in shape["adapters"]:
            m.check_similarity_gap()
        c = m.counts(shape["adapters"])
        c.update(dir=d, files=len(files), input_bytes=nbytes,
                 skipped=sum(1 for f in files if f[1] is None),
                 salvaged=sum(1 for f in files if f[2] is not None))
        shards.append(c)
    return {"adapters": "scale" if "semantic_lsh" in shape["adapters"]
            else "core", "shards": shards, "warm": os.path.join(out_dir, "warm")}


def patch_files(seed, k, model, rnd):
    """Patch k: a new root that re-homes an existing internal node and
    puts two new children into its first two sibling slots (evicting the
    previous occupants), plus a new leaf that references them."""
    with_kids = sorted({n[2] for n in model.nodes.values()
                        if n[2] is not None and n[3] == 1})
    target = with_kids[rnd.r.randrange(len(with_kids))]
    root = El(f"zp{seed}x{k}", "patch")
    root.attrs = [("rev", str(k))]
    moved = El(target, model.nodes[target][1])
    moved.attrs = [("a0", rnd.scalar(k)), ("patched", "true")]
    kids = [El(f"zp{seed}x{k}_{i}", "fresh", text=rnd.letters(6))
            for i in range(2)]
    for i, c in enumerate(kids):
        c.attrs = [("ref", kids[1 - i].id), ("n", str(i))]
    moved.children = kids
    note = El(f"zp{seed}x{k}_n", "note", text=rnd.letters(5))
    note.attrs = [("target", target), ("refs", f"{kids[0].id}, {kids[1].id}")]
    root.children = [moved, note]
    return [(f"zp{k:03d}.xml", root, None)]


def graph_corpus(seed, out_dir):
    """Base graph files, upsert patches with the expected counts of every
    version, and the seeded query parameters."""
    shape = SHAPES["graph_queries"]
    files = corpus_docs("graph_queries", seed)
    base = os.path.join(out_dir, "base")
    nbytes = write_files(base, files)
    m = Model()
    m.convert(files)
    m.edges = m.edge_set(CORE)
    versions = [m.counts(CORE, list(m.edges))]
    rnd = Rand("graph_queries", seed, "params")
    params, warm = query_params(m, rnd)
    patches = []
    for k in range(shape["patches"]):
        pf = patch_files(seed, k, m, rnd)
        d = os.path.join(out_dir, f"patch{k:03d}")
        pbytes = write_files(d, pf)
        m.upsert(pf)
        c = m.counts(CORE, list(m.edges))
        c.update(dir=d, input_bytes=pbytes, files=len(pf))
        patches.append(d)
        versions.append(c)
    return {"base": base, "input_bytes": nbytes, "files": len(files),
            "patches": patches, "versions": versions, "params": params,
            "warm_ops": warm}


# --- query parameters ---------------------------------------------------

POINT_OPS = ["relationshipsOf", "ancestors", "descendants", "siblingsOf",
             "directChildren", "referencesTo", "searchByAttribute",
             "contentSearch", "nodesByType", "xpathSearch",
             "propertiesOfType", "eavConjunction"]
ANALYTIC_OPS = ["pivotProperties", "propertiesByDataType", "countByType",
                "statistics", "relationshipSummary", "brokenReferences",
                "relationshipCounts", "mostConnected", "bidirectionalPairs",
                "nodeTree", "hierarchicalPaths"]
POINT_PER_ANALYTIC = 2
READS_PER_WRITE = 10
DESCEND_FROM_DEPTH = 3


def infer_type(v):
    if re.search(r"^\d+$", v):
        return "integer"
    if re.search(r"^\d+\.\d+$", v):
        return "float"
    if re.search(r"(?i)^(true|false)$", v):
        return "boolean"
    if re.search(r"^\d{4}-\d{2}-\d{2}", v) or re.search(r"^\d{2}:\d{2}:\d{2}", v):
        return "datetime"
    return "string"


def query_params(m, rnd):
    """The closed-loop op sequence. Op types come in a fixed order (two
    point lookups per full-graph analytic, each family cycling through
    its list, a write after every READS_PER_WRITE reads), so every run
    of a given length does the same mix of work; the seed draws only the
    parameters, over the whole id space."""
    r = rnd.r
    ids = sorted(m.nodes)
    internal = sorted({n[2] for n in m.nodes.values() if n[2] is not None})
    leaves = sorted(set(ids) - set(internal))
    # lookups whose answer can be empty draw from the ids where it is not,
    # so every draw of one method does the same kind of work
    family = {}
    for nid, n in m.nodes.items():
        family.setdefault((n[0], n[2]), []).append(nid)
    with_siblings = sorted(nid for (_, parent), f in family.items()
                           if parent is not None and len(f) > 1 for nid in f)
    referenced = sorted({e[1] for e in m.edges
                         if e[2] == "attribute_reference"})
    # subtree lookups start at one depth, where every subtree has the
    # same shape
    depth = {}

    def depth_of(nid):
        if nid not in depth:
            parent = m.nodes[nid][2]
            depth[nid] = 0 if parent is None else depth_of(parent) + 1
        return depth[nid]
    mid = sorted(n for n in internal if depth_of(n) == DESCEND_FROM_DEPTH)
    types = sorted({n[1] for n in m.nodes.values()})
    props = sorted(m.props.items())
    names = sorted({k[1] for k in m.props})
    by_node = {}
    for (nid, name), (v, _) in props:
        by_node.setdefault(nid, []).append((name, v))

    def point(op):
        if op == "relationshipsOf":
            return [r.choice(ids)]
        if op == "siblingsOf":
            return [r.choice(with_siblings)]
        if op == "referencesTo":
            return [r.choice(referenced)]
        if op == "ancestors":
            return [r.choice(leaves)]
        if op in ("descendants", "directChildren"):
            return [r.choice(mid)]
        if op == "searchByAttribute":
            (nid, name), (v, _) = r.choice(props)
            return [name, v]
        if op == "contentSearch":
            return [m.nodes[r.choice(leaves)][4]]
        if op == "nodesByType":
            return [r.choice(types)]
        if op == "xpathSearch":
            return [f"%/{r.choice(types)}[{r.randrange(1, 3)}]%"]
        if op == "propertiesOfType":
            return [r.choice(types), r.choice(names)]
        if op == "eavConjunction":
            (nid, name), (v, _) = r.choice(props)
            name2, v2 = r.choice([p for p in by_node[nid] if p[0] != name]
                                 or [(name, v)])
            return [name, v, name2, infer_type(v2)]
        raise KeyError(op)

    def analytic(op):
        if op == "pivotProperties":
            return sorted(r.sample(names, 3))
        if op == "propertiesByDataType":
            return [r.choice(["integer", "float", "boolean", "datetime"])]
        if op == "mostConnected":
            return [str(r.choice([5, 10, 20]))]
        return []

    # set-up warms the recursive traversals, the slowest code to JIT
    warm = [["ancestors"] + point("ancestors"),
            ["descendants"] + point("descendants")]
    seq, reads, pi, ai = [], 0, 0, 0
    while len(seq) < 1000:
        if reads % (POINT_PER_ANALYTIC + 1) < POINT_PER_ANALYTIC:
            op = POINT_OPS[pi % len(POINT_OPS)]
            pi += 1
            seq.append([op] + point(op))
        else:
            op = ANALYTIC_OPS[ai % len(ANALYTIC_OPS)]
            ai += 1
            seq.append([op] + analytic(op))
        reads += 1
        if reads % READS_PER_WRITE == 0:
            seq.append(["upsert"])
    return seq, warm
