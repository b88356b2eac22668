"""Seeded input generator for the KG benchmark.

Kept apart from the program's own fixture generator so that no change to
the program can change the benchmark's inputs. The program only ever sees
what this module writes:

    pages      (url string, warc_ts timestamp, html binary, lang string)
    gazetteer  (surface_form, canonical_id, entity_type, weight)

Alongside, it records what a correct program must produce from them:

    golden     (url, subj, pred, obj)  triples the page text states
    text       (url, sha256)            sha256 of the expected extracted
                                        text under the html_text spec

Every page is assembled from sentence specs whose mentions, relations
and links are known, so golden triples follow from construction rather
than from running any part of the program. The rules the construction
relies on are the program's documented contracts:

- exact mentions: case-sensitive, word-bounded, leftmost-longest gazetteer
  surfaces, English pages only;
- fuzzy candidates: runs of two or more Capitalized words that overlap no
  exact mention. No sentence puts a capitalized word next to a name, so a
  candidate is always exactly the planted surface;
- a misspelled known name (one letter dropped from its distinctive middle
  token) is expected to link to its entity; an unknown name uses tokens no
  gazetteer key shares, so it has no blocking partner and becomes the
  external stub ``ext:`` + sha256(surface);
- relations: two consecutive mentions separated by exactly one of the
  verb phrases;
- LINKS_TO: ``<a href>`` targets resolved against the page url.

Inputs are cached under the work directory keyed by (workload, seed,
generator version); each file's sha256 is recorded in ``meta.json`` and
checked on load, and a mismatch regenerates the set.
"""

from __future__ import annotations

import hashlib
import html as html_mod
import json
import os
import shutil
import time
import zlib
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 1
_N_PAGE_FILES = 8

TYPES = ("Person", "Org", "Place", "Product")
# gap text -> predicate, as the program's relation table states it
VERBS = (
    ("acquired", "ACQUIRED"),
    ("works for", "WORKS_FOR"),
    ("is located in", "LOCATED_IN"),
    ("produces", "PRODUCES"),
    ("partnered with", "PARTNERED_WITH"),
    ("was born in", "BORN_IN"),
)
# gazetteer tokens use no 'z'; unknown names use 'z' in every token, so
# no unknown token can ever share a blocking key with a gazetteer key
_SYL = (
    "ba be bi bo bu da de di do du fa fe fi fo ga ge go ka ke ki ko la le li lo lu "
    "ma me mi mo mu na ne ni no nu pa pe pi po ra re ri ro ru sa se si so su ta te "
    "ti to tu va ve vi vo"
).split()
_ZSYL = ("za", "ze", "zi", "zo", "zu", "oz", "az", "iz")
_FILLER_AFTER_NAME = (
    "reported steady growth this quarter",
    "declined to comment on the matter",
    "was mentioned in several reviews",
    "announced a new round of hiring",
    "saw demand rise & margins narrow",
    "called the outcome \"routine\" today",
)
_FILLERS = (
    "Analysts expect the trend to continue next year.",
    "Shares rose 3% & volumes stayed < average.",
    "Officials said the plan is \"on track\" for now.",
    "The report cites several independent sources.",
    "Observers noted that it's too early to tell.",
    "Markets reacted calmly to the news.",
)
_ANCHOR_TEXTS = ("related coverage", "the archive", "this page", "earlier reports")


@dataclass(frozen=True)
class Shape:
    """Input shape of one workload (see METRICS.md for why each is so)."""

    n_pages: int
    n_entities: int
    n_domains: int
    sentences: tuple[int, int]  # per page, [lo, hi)
    alias_share: float  # entities that also carry a second surface
    misspell_share: float  # mentions written as a misspelled known name
    unknown_share: float  # mentions of names the gazetteer lacks
    non_en_share: float
    edit_share: float  # recrawl: pages whose content changes
    add_share: float  # recrawl: new pages
    remove_share: float  # recrawl: pages that vanish
    zipf_a: float = 1.1


SHAPES = {
    # misspelled and unknown names against a gazetteer whose names share
    # first and last tokens: fuzzy linking carries the build; its recrawl
    # is content-identical (change detection only)
    "link_heavy": Shape(
        n_pages=600, n_entities=2000, n_domains=20, sentences=(5, 10),
        alias_share=0.0, misspell_share=0.12, unknown_share=0.08,
        non_en_share=0.1, edit_share=0.0, add_share=0.0, remove_share=0.0,
    ),
    # exact surfaces only (fuzzy linking short-circuits), Zipf-skewed
    # domains, then one real recrawl: edits, additions and removals
    "recrawl_serve": Shape(
        n_pages=1500, n_entities=400, n_domains=40, sentences=(6, 12),
        alias_share=0.3, misspell_share=0.0, unknown_share=0.0,
        non_en_share=0.1, edit_share=0.03, add_share=0.01, remove_share=0.01,
    ),
}


def _words(syl: list[str], n_parts: int, count: int, rng) -> list[str]:
    """`count` distinct Capitalized pseudo-words of `n_parts` syllables."""
    k = len(syl)
    space = k**n_parts
    if count > space:
        raise ValueError(f"{count} words requested from a space of {space}")
    out = []
    for idx in rng.choice(space, size=count, replace=False):
        parts = []
        for _ in range(n_parts):
            idx, r = divmod(int(idx), k)
            parts.append(syl[r])
        out.append("".join(parts).capitalize())
    return out


class _Zipf:
    """Zipf-skewed draws over a random ranking of n items."""

    def __init__(self, n: int, a: float, rng) -> None:
        p = np.arange(1, n + 1, dtype=np.float64) ** -a
        self._cdf = np.cumsum(p / p.sum())
        self._order = rng.permutation(n)
        self._rng = rng

    def draw(self) -> int:
        i = int(np.searchsorted(self._cdf, self._rng.random_sample()))
        return int(self._order[min(i, len(self._order) - 1)])


@dataclass
class _Entity:
    cid: str
    etype: str
    first: str
    middle: str
    last: str
    alias: str | None

    @property
    def surface(self) -> str:
        return f"{self.first} {self.middle} {self.last}"


def _ext_id(surface: str) -> str:
    return "ext:" + hashlib.sha256(surface.encode("utf-8")).hexdigest()


class _Corpus:
    """Sentence-level page assembly; every emitted fact is recorded."""

    def __init__(self, shape: Shape, rng) -> None:
        self.shape = shape
        self.rng = rng
        n = shape.n_entities
        firsts = _words(_SYL, 2, 80, rng)
        lasts = _words(_SYL, 2, 80, rng)
        middles = _words(_SYL, 3, n, rng)
        self.entities: list[_Entity] = []
        for i in range(n):
            et = TYPES[i % len(TYPES)]
            mid = middles[i]
            alias = f"{mid} {lasts[i % 80]}" if rng.random_sample() < shape.alias_share else None
            self.entities.append(
                _Entity(f"ent:{et.lower()}:{i:06d}", et, firsts[rng.randint(80)], mid, lasts[rng.randint(80)], alias)
            )
        # surfaces must be unique for golden ids to be unambiguous
        self.surfaces = {e.surface for e in self.entities} | {
            e.alias for e in self.entities if e.alias
        }
        if len(self.surfaces) != n + sum(1 for e in self.entities if e.alias):
            raise RuntimeError("generated gazetteer surfaces collide")
        self.ent_pick = _Zipf(n, shape.zipf_a, rng)
        n_unknown = max(50, n // 20)
        ztoks = [
            (a + b + c).capitalize()
            for a in _ZSYL for b in _SYL[:20] for c in _ZSYL
        ]
        zidx = rng.choice(len(ztoks), size=(n_unknown, 2), replace=True)
        self.unknown = sorted({f"{ztoks[a]} {ztoks[b]}" for a, b in zidx})
        self.unk_pick = _Zipf(len(self.unknown), shape.zipf_a, rng)
        self.domains = [f"site{d:03d}.example.com" for d in range(shape.n_domains)]
        self.dom_pick = _Zipf(shape.n_domains, 1.3, rng)

    def gazetteer(self) -> pa.Table:
        rows = {"surface_form": [], "canonical_id": [], "entity_type": [], "weight": []}
        for e in self.entities:
            for s, w in ((e.surface, 1.0), (e.alias, 0.6)):
                if s is None:
                    continue
                rows["surface_form"].append(s)
                rows["canonical_id"].append(e.cid)
                rows["entity_type"].append(e.etype)
                rows["weight"].append(w)
        return pa.table(rows)

    # -- sentences: (html, text, mention_ids, rels, links) ---------------

    def _name(self) -> tuple[str, str]:
        """(surface, expected canonical id) for one mention."""
        r = self.rng.random_sample()
        sh = self.shape
        if r < sh.unknown_share:
            s = self.unknown[self.unk_pick.draw()]
            return s, _ext_id(s)
        e = self.entities[self.ent_pick.draw()]
        if r < sh.unknown_share + sh.misspell_share and len(e.middle) >= 6:
            for _ in range(4):
                p = 1 + self.rng.randint(len(e.middle) - 2)
                s = f"{e.first} {e.middle[:p] + e.middle[p + 1:]} {e.last}"
                if s not in self.surfaces:
                    return s, e.cid
        if e.alias and self.rng.random_sample() < 0.3:
            return e.alias, e.cid
        return e.surface, e.cid

    def sentence(self, url_of):
        r = self.rng.random_sample()
        if r < 0.32:
            (a, ia), (b, ib) = self._name(), self._name()
            while ib == ia:
                b, ib = self._name()
            verb, pred = VERBS[self.rng.randint(len(VERBS))]
            t = f"{a} {verb} {b}."
            return html_mod.escape(t), t, [ia, ib], [(ia, pred, ib)], []
        if r < 0.62:
            a, ia = self._name()
            lead = "" if self.rng.random_sample() < 0.5 else "Reports say "
            t = f"{lead}{a} {_FILLER_AFTER_NAME[self.rng.randint(len(_FILLER_AFTER_NAME))]}."
            return html_mod.escape(t), t, [ia], [], []
        if r < 0.78:
            target, same_domain = url_of(self.rng)
            anchor = _ANCHOR_TEXTS[self.rng.randint(len(_ANCHOR_TEXTS))]
            v = self.rng.randint(3)
            href = target
            if same_domain and v == 2:
                href = target.split("/", 3)[3]
                href = "/" + href
            if v == 1:
                a_open = f"<A class='ref' HREF='{href}'>"
            else:
                a_open = f'<a href="{href}">'
            t = f"See {anchor} for details."
            h = f"See {a_open}{anchor}</a> for details."
            return h, t, [], [], [target]
        t = _FILLERS[self.rng.randint(len(_FILLERS))]
        return html_mod.escape(t), t, [], [], []

    def page(self, idx: int, url: str, lang: str, url_of):
        """One page: (html bytes, text, golden rows)."""
        rng = self.rng
        lo, hi = self.shape.sentences
        n = rng.randint(lo, hi)
        kind = idx % 97
        if kind == 13:
            n = 0  # empty body
        frags, texts, golden = [], [], []
        page_id = f"page:{url}"
        for _ in range(n):
            h, t, mids, rels, links = self.sentence(url_of)
            frags.append(h)
            texts.append(t)
            if lang == "en":
                golden += [(url, page_id, "MENTIONS", m) for m in mids]
                golden += [(url, s, p, o) for s, p, o in rels]
            golden += [(url, page_id, "LINKS_TO", f"page:{t}") for t in links]
        paras, i = [], 0
        while i < len(frags):
            k = 1 + rng.randint(3)
            tag = "<P class=\"body\">" if rng.random_sample() < 0.2 else "<p>"
            paras.append(tag + " ".join(frags[i : i + k]) + "</p>")
            i += k
        if paras and rng.random_sample() < 0.3:
            paras.insert(1, "<script>if (a < b && c > d) { render(); }</script>")
        if paras and rng.random_sample() < 0.2:
            paras.append("<!-- generated --><br/>")
        body = "\n".join(paras)
        raw = (
            f"<html><head><title>Report {idx}</title><meta charset=\"utf-8\"/>"
            f"<style>p {{ margin: 0 }}</style></head><body>{body}</body></html>"
        ).encode("utf-8")
        if kind == 29 and paras:
            # undecodable bytes: extraction decodes with errors='ignore'
            raw = raw.replace(b"<body>", b"<body>\xff\xfe", 1)
        text = " ".join(texts)
        return raw, text, golden


def _snapshot(corp: _Corpus, urls, langs, idxs, link_pool):
    """Build pages for parallel url/lang/index lists; links point into
    `link_pool` (the urls of the snapshot being built) or off-site."""
    url_set = list(link_pool)

    def url_of(rng):
        if rng.random_sample() < 0.2:
            return f"https://ext{rng.randint(30):02d}.example.net/item/{rng.randint(500)}", False
        return url_set[rng.randint(len(url_set))], True

    pages, golden, texts = [], [], []
    for u, lang, idx in zip(urls, langs, idxs):
        # same-domain links are written root-relative, so only offer
        # root-relative hrefs for targets that share the page's origin
        def url_of_page(rng, _u=u):
            t, internal = url_of(rng)
            return t, internal and t.split("/")[2] == _u.split("/")[2]

        raw, text, g = corp.page(idx, u, lang, url_of_page)
        pages.append((u, raw, lang))
        texts.append((u, hashlib.sha256(text.encode("utf-8")).hexdigest()))
        golden += g
    return pages, golden, texts


def _pages_table(pages) -> pa.Table:
    epoch = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z in microseconds
    return pa.table(
        {
            "url": pa.array([p[0] for p in pages], pa.string()),
            "warc_ts": pa.array(
                [epoch + i * 37_000_000 for i in range(len(pages))],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([p[1] for p in pages], pa.binary()),
            "lang": pa.array([p[2] for p in pages], pa.string()),
        }
    )


def generate(workload: str, seed: int) -> dict:
    """Generate every table of one (workload, seed) in memory."""
    shape = SHAPES[workload]
    rng = np.random.RandomState((zlib.crc32(workload.encode()) ^ (seed * 2654435761)) % 2**32)
    corp = _Corpus(shape, rng)
    n = shape.n_pages
    langs = np.where(rng.random_sample(n) < shape.non_en_share, "de", "en")
    urls = [
        f"https://{corp.domains[corp.dom_pick.draw()]}/{langs[i]}/a/{i:06d}" for i in range(n)
    ]
    pages0, golden0, text0 = _snapshot(corp, urls, list(langs), list(range(n)), urls)
    out = {
        "gazetteer": corp.gazetteer(),
        "pages_0": _pages_table(pages0),
        "golden_0": _golden_table(golden0),
        "text_0": _text_table(text0),
        "changes": {"edited": 0, "added": 0, "removed": 0},
    }
    if shape.edit_share or shape.add_share or shape.remove_share:
        order = rng.permutation(n)
        n_edit = int(round(n * shape.edit_share))
        n_rm = int(round(n * shape.remove_share))
        n_add = int(round(n * shape.add_share))
        edited = set(order[:n_edit].tolist())
        removed = set(order[n_edit : n_edit + n_rm].tolist())
        keep = [i for i in range(n) if i not in removed]
        new_idx = list(range(n, n + n_add))
        new_langs = list(np.where(rng.random_sample(n_add) < shape.non_en_share, "de", "en"))
        urls1 = [urls[i] for i in keep] + [
            f"https://{corp.domains[corp.dom_pick.draw()]}/{new_langs[k]}/a/{i:06d}"
            for k, i in enumerate(new_idx)
        ]
        langs1 = [langs[i] for i in keep] + new_langs
        # unchanged pages keep their exact bytes; edited and new pages are
        # rebuilt, so the recrawl differs from the crawl only where stated
        kept_pages = {p[0]: p for p in pages0}
        kept_text = dict(text0)
        kept_golden: dict[str, list] = {}
        for row in golden0:
            kept_golden.setdefault(row[0], []).append(row)
        rebuild = [j for j, i in enumerate(keep) if i in edited] + list(
            range(len(keep), len(urls1))
        )
        idxs1 = keep + new_idx
        pages_r, golden_r, text_r = _snapshot(
            corp, [urls1[j] for j in rebuild], [langs1[j] for j in rebuild],
            [idxs1[j] + 100_000 for j in rebuild], urls1,
        )
        # links of rebuilt pages must target pages of the recrawl
        rebuilt = {p[0]: p for p in pages_r}
        pages1, golden1, text1 = [], [], []
        text_r = dict(text_r)
        g_r: dict[str, list] = {}
        for row in golden_r:
            g_r.setdefault(row[0], []).append(row)
        for u in urls1:
            if u in rebuilt:
                pages1.append(rebuilt[u])
                text1.append((u, text_r[u]))
                golden1 += g_r.get(u, [])
            else:
                pages1.append(kept_pages[u])
                text1.append((u, kept_text[u]))
                golden1 += kept_golden.get(u, [])
        out.update(
            pages_1=_pages_table(pages1),
            golden_1=_golden_table(golden1),
            text_1=_text_table(text1),
            changes={"edited": n_edit, "added": n_add, "removed": n_rm},
        )
    out["shape"] = asdict(shape)
    return out


def _golden_table(rows) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.table({k: pa.array(list(v), pa.string()) for k, v in zip(("url", "subj", "pred", "obj"), cols)})


def _text_table(rows) -> pa.Table:
    return pa.table({"url": [r[0] for r in rows], "sha256": [r[1] for r in rows]})


def _file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _verified(d: str) -> dict | None:
    try:
        with open(os.path.join(d, "meta.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    for name, sha in meta["files"].items():
        p = os.path.join(d, name)
        if not os.path.exists(p) or _file_sha(p) != sha:
            return None
    return meta


def load_or_generate(work: str, workload: str, seed: int) -> tuple[str, dict]:
    """Directory of the verified input set, generating it if needed.

    Returns (directory, meta). meta carries file hashes, sizes, the
    recrawl change counts and the generation time (0 on a cache hit)."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-g{GEN_VERSION}")
    meta = _verified(d)
    if meta is not None:
        meta["gen_s"] = 0.0
        return d, meta
    t0 = time.perf_counter()
    data = generate(workload, seed)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    files = {}
    for name, tbl in data.items():
        if not isinstance(tbl, pa.Table):
            continue
        # a crawl snapshot is a directory of several files, so the scan
        # splits across cores; the other tables are single files
        parts = _N_PAGE_FILES if name.startswith("pages_") else 1
        os.makedirs(os.path.join(tmp, name))
        step = -(-tbl.num_rows // parts)
        for i in range(parts):
            rel = os.path.join(name, f"part-{i}.parquet")
            pq.write_table(tbl.slice(i * step, step), os.path.join(tmp, rel))
            files[rel] = _file_sha(os.path.join(tmp, rel))
    html_bytes = {
        k: int(pc.sum(pc.binary_length(data[k]["html"])).as_py() or 0)
        for k in ("pages_0", "pages_1") if k in data
    }
    meta = {
        "workload": workload,
        "seed": seed,
        "gen_version": GEN_VERSION,
        "files": files,
        "shape": data["shape"],
        "changes": data["changes"],
        "n_pages": {k: data[k].num_rows for k in ("pages_0", "pages_1") if k in data},
        "html_bytes": html_bytes,
        "gazetteer_rows": data["gazetteer"].num_rows,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    os.rename(tmp, d)
    meta["gen_s"] = time.perf_counter() - t0
    return d, meta
