"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs. Each writes into its own directory together with a
stamp of (workload, seed, size, generator version); `ensure` reuses a
directory only when its stamp matches.
"""
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# Workload sizes. kg_build and suite documents follow the schema of the
# repository's test data (doc_id, text, lang, source, n_chars) with doc_id
# dense from 0, so the hub document (11) and the malformed documents
# (doc_id % 65 == 63) are present.
SIZES = {
    "kg_build": {"docs": 1500},
    "link_heavy": {"mentions": 1100},
    "rdfxml_file": {"files": 4, "file_bytes": 8_000_000},
    "suite": {"docs": 500, "vectors": 500, "dim": 64, "events": 2000, "users": 40},
}

WORDS = ("a the batch part spark line column order small sort fast value scan "
         "stream filter big merge group join agg hash vector query table key "
         "customer slow index shard graph node edge triple parse token").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]


def _rng(seed, stream):
    return random.Random(f"perfbench:{seed}:{stream}")


def documents(seed, n):
    r = _rng(seed, "documents")
    weights = [1.0 / (i + 1) for i in range(len(WORDS))]
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for d in range(n):
        text = " ".join(r.choices(WORDS, weights, k=r.randint(8, 90)))
        rows["doc_id"].append(d)
        rows["text"].append(text)
        rows["lang"].append(r.choices(LANGS, LANG_WEIGHTS)[0])
        rows["source"].append(f"src{d % 20}")
        rows["n_chars"].append(len(text))
    return pa.table({
        "doc_id": pa.array(rows["doc_id"], pa.int64()),
        "text": pa.array(rows["text"], pa.string()),
        "lang": pa.array(rows["lang"], pa.string()),
        "source": pa.array(rows["source"], pa.string()),
        "n_chars": pa.array(rows["n_chars"], pa.int64()),
    })


def embeddings(seed, n, dim):
    r = _rng(seed, "embeddings")
    centers = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    ids, vecs, labels = [], [], []
    for v in range(n):
        label = r.randrange(10)
        x = [c + r.gauss(0, 0.6) for c in centers[label]]
        norm = sum(e * e for e in x) ** 0.5
        ids.append(v)
        vecs.append([e / norm for e in x])
        labels.append(label)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events(seed, n, users):
    """Strictly increasing timestamps, so no (user_id, ts) repeats."""
    r = _rng(seed, "events")
    types = ["click", "purchase", "view", "signup", "error"]
    ts = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z in microseconds
    cols = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    for e in range(n):
        ts += r.randint(1_000_000, 240_000_000)
        cols["event_id"].append(e)
        cols["ts"].append(ts)
        cols["user_id"].append(r.randrange(users))
        cols["event_type"].append(r.choices(types, [0.4, 0.2, 0.25, 0.1, 0.05])[0])
        cols["value"].append(round(r.uniform(1, 200), 2))
        cols["props"].append(None if r.random() < 0.05 else json.dumps({"k": r.randrange(100)}))
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


SYLLABLES = ("ka ro men ti val das lo ri an ne sa mi to ku ra be li on de el "
             "ma na po ve zi ta ur is ol em").split()
SUFFIXES = ["Group", "Holdings", "Labs", "Partners", "Trading", "Systems"]


def _vocabulary(r, size):
    words = set()
    while len(words) < size:
        words.add("".join(r.choice(SYLLABLES) for _ in range(r.randint(2, 3))).capitalize())
    return sorted(words)


def _aliases(r, words):
    """Surface forms of one entity whose name is `words`."""
    full = " ".join(words)
    forms = [full]
    for _ in range(r.choices([0, 1, 2, 3, 4], [0.15, 0.3, 0.25, 0.2, 0.1])[0]):
        kind = r.randrange(5)
        if kind == 0:  # one-letter typo
            i = r.randrange(len(full))
            forms.append(full[:i] + r.choice("aeiourstn") + full[i + 1:])
        elif kind == 1:  # initial for the first word
            forms.append(" ".join([words[0][0] + "."] + list(words[1:])))
        elif kind == 2:  # organisation suffix
            forms.append(full + " " + r.choice(SUFFIXES))
        elif kind == 3 and len(words) > 2:  # last word dropped
            forms.append(" ".join(words[:-1]))
        else:  # upper case
            forms.append(full.upper())
    return forms


def link_universe(seed, mentions):
    """Mention universe of alias clusters with known truth.

    Entity names are 2-3 words drawn from a Zipf-weighted vocabulary, so a
    few words (and their character shingles) are shared by many mentions,
    and 95% of them end in the same legal form.
    Entities are added until the universe holds exactly `mentions` distinct
    surface forms; a form produced by two entities is kept for the first.
    Returns (universe table, truth table).
    """
    r = _rng(seed, "link")
    vocab = _vocabulary(r, 600)
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(vocab))]
    owner = {}
    entity = 0
    while len(owner) < mentions:
        while True:
            words = r.choices(vocab, weights, k=r.choice([2, 2, 3]))
            if len(set(words)) == len(words):
                break
        # most names carry the same legal form, whose shingles then occur in
        # more mentions than the linking document-frequency cap admits
        legal = " Ltd" if r.random() < 0.95 else ""
        for form in _aliases(r, words):
            if len(owner) < mentions:
                owner.setdefault(form + legal, entity)
        entity += 1
    names = sorted(owner)
    return (pa.table({"mention": pa.array(names, pa.string())}),
            pa.table({"mention": pa.array(names, pa.string()),
                      "entity": pa.array([owner[m] for m in names], pa.int64())}))


RDF_HEAD = ('<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:g="http://graft.dev/voc#">\n')
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _resource(r, f, i):
    """One RDF/XML resource description and its triple count."""
    about = f"http://graft.dev/f{f}/r{i}"
    name = " ".join(r.choices(WORDS, k=r.randint(1, 4)))
    kind = r.randrange(5)
    if kind == 0:
        other = f"http://graft.dev/f{f}/r{r.randrange(i + 1)}"
        return (f'<rdf:Description rdf:about="{about}"><g:name>{name}</g:name>'
                f'<g:size rdf:datatype="{XSD_INT}">{r.randrange(10**6)}</g:size>'
                f'<g:knows rdf:resource="{other}"/></rdf:Description>\n', 3)
    if kind == 1:
        return (f'<g:Item rdf:about="{about}"><g:label xml:lang="{r.choice(LANGS)}">{name}</g:label>'
                f'</g:Item>\n', 2)
    if kind == 2:
        return (f'<rdf:Description rdf:about="{about}"><g:addr rdf:parseType="Resource">'
                f'<g:city>{name}</g:city><g:zip>{r.randrange(10**5)}</g:zip></g:addr>'
                f'</rdf:Description>\n', 3)
    if kind == 3:
        return (f'<rdf:Description rdf:about="{about}" g:a="{name}" g:b="{r.randrange(1000)}"/>\n', 2)
    return (f'<rdf:Description rdf:about="{about}"><g:tags rdf:parseType="Collection">'
            f'<rdf:Description rdf:about="{about}/t0"/><rdf:Description rdf:about="{about}/t1"/>'
            f'</g:tags></rdf:Description>\n', 5)


def rdfxml_file(seed, f, target_bytes):
    """One RDF/XML document of about `target_bytes`; returns (text, triples)."""
    r = _rng(seed, f"rdfxml:{f}")
    parts, size, triples, i = [RDF_HEAD], len(RDF_HEAD), 0, 0
    while size < target_bytes:
        text, n = _resource(r, f, i)
        parts.append(text)
        size += len(text)
        triples += n
        i += 1
    parts.append("</rdf:RDF>\n")
    return "".join(parts), triples


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def generate(workload, seed, out):
    size = SIZES[workload]
    if workload == "kg_build":
        write_parquet(documents(seed, size["docs"]), os.path.join(out, "documents.parquet"))
    elif workload == "link_heavy":
        universe, truth = link_universe(seed, size["mentions"])
        write_parquet(universe, os.path.join(out, "universe.parquet"))
        write_parquet(truth, os.path.join(out, "truth.parquet"))
    elif workload == "rdfxml_file":
        files = os.path.join(out, "files")
        os.makedirs(files)
        triples = nbytes = 0
        for f in range(size["files"]):
            text, n = rdfxml_file(seed, f, size["file_bytes"])
            path = os.path.join(files, f"part{f}.rdf")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(text)
            triples += n
            nbytes += os.path.getsize(path)
        with open(os.path.join(out, "manifest.json"), "w") as fh:
            json.dump({"triples": triples, "bytes": nbytes}, fh)
    elif workload == "suite":
        write_parquet(documents(seed, size["docs"]), os.path.join(out, "documents.parquet"))
        write_parquet(embeddings(seed, size["vectors"], size["dim"]),
                       os.path.join(out, "embeddings.parquet"))
        write_parquet(events(seed, size["events"], size["users"]), os.path.join(out, "events.parquet"))
    else:
        raise ValueError(f"unknown workload {workload}")


def stamp(workload, seed):
    return json.dumps({"workload": workload, "seed": seed, "size": SIZES[workload],
                       "version": GEN_VERSION}, sort_keys=True)


def ensure(workload, seed, root):
    """Directory holding the inputs of (workload, seed), generated if needed."""
    out = os.path.join(root, workload)
    stamp_path = os.path.join(out, "_STAMP")
    want = stamp(workload, seed)
    if os.path.isfile(stamp_path) and open(stamp_path).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    generate(workload, seed, out)
    with open(stamp_path, "w") as fh:
        fh.write(want)
    return out


def fingerprint(path):
    """SHA-256 over the names and bytes of every input file under `path`."""
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            if name == "_STAMP":
                continue
            p = os.path.join(base, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
