"""Golden-corpus loader: AST-extracts expected article texts/hashes and
the url→fixture-HTML map from the reference's end-to-end test
(/root/reference/myaku/tests/end_to_end/test_crawl.py) without importing
or executing any reference code. The extracted *data* (public-domain
literary text + structural fixtures) is the correctness oracle for the
byte-identical extraction invariant."""

from __future__ import annotations

import ast
import os
from functools import lru_cache

import pytest

REF_TEST = "/root/reference/myaku/tests/end_to_end/test_crawl.py"
REF_TEST_DIR = "/root/reference/myaku/tests/end_to_end"


@lru_cache(maxsize=1)
def _ref_tree() -> ast.Module:
    """The reference test module, parsed once. Every golden loader goes
    through here, so a test that needs golden data skips (with one
    reason) when the reference corpus is absent."""
    if not os.path.exists(REF_TEST):
        pytest.skip("reference corpus not present")
    with open(REF_TEST, encoding="utf-8") as f:
        return ast.parse(f.read())


def _const(node):
    return node.value if isinstance(node, ast.Constant) else None


def _doc_value(v):
    """Constant (incl. negative literals), or the ISO string inside
    datetime.fromisoformat(...)."""
    c = _const(v)
    if c is not None:
        return c
    if isinstance(v, ast.UnaryOp) and isinstance(v.op, ast.USub):
        inner = _const(v.operand)
        if isinstance(inner, (int, float)):
            return -inner
    if (
        isinstance(v, ast.Call)
        and isinstance(v.func, ast.Attribute)
        and v.func.attr == "fromisoformat"
        and v.args
    ):
        return _const(v.args[0])
    return None


def _dict_to_doc(elt: ast.Dict) -> dict:
    doc = {}
    for k, v in zip(elt.keys, elt.values):
        key = _const(k)
        val = _doc_value(v)
        if key is not None and val is not None:
            doc[key] = val
    return doc


def _extract_docs(list_node: ast.List) -> list[dict]:
    docs = []
    for elt in list_node.elts:
        if not isinstance(elt, ast.Dict):
            continue
        doc = _dict_to_doc(elt)
        if "full_text" in doc:
            docs.append(doc)
    return docs


@lru_cache(maxsize=1)
def golden_blog_docs() -> tuple[list[dict], list[dict]]:
    """(initial, update) expected blog docs (test_crawl.py:64-190):
    the update stage REPLACES entries [0]/[2] (re-crawled series with new
    ratings) and appends Series 4."""
    tree = _ref_tree()
    initial: list[dict] = []
    replacements: dict[int, dict] = {}
    appended: list[dict] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and node.targets:
            t0 = node.targets[0]
            if (
                getattr(t0, "id", None) == "INITIAL_CRAWL_EXPECTED_BLOG_DOCS"
                and isinstance(node.value, ast.List)
            ):
                initial = [
                    _dict_to_doc(e)
                    for e in node.value.elts
                    if isinstance(e, ast.Dict)
                ]
            if (
                isinstance(t0, ast.Subscript)
                and getattr(t0.value, "id", None)
                == "UPDATE_CRAWL_EXPECTED_BLOG_DOCS"
                and isinstance(node.value, ast.Dict)
            ):
                replacements[_const(t0.slice)] = _dict_to_doc(node.value)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "append"
            and getattr(node.func.value, "id", None)
            == "UPDATE_CRAWL_EXPECTED_BLOG_DOCS"
            and node.args
            and isinstance(node.args[0], ast.Dict)
        ):
            appended.append(_dict_to_doc(node.args[0]))
    update = list(initial)
    for idx, doc in replacements.items():
        update[idx] = doc
    update.extend(appended)
    return initial, update


@lru_cache(maxsize=1)
def golden_article_meta() -> tuple[list[dict], list[dict]]:
    """(initial, update-only) article docs with ALL scalar fields kept
    (title, source_name, blog_oid, order nums, has_video, alnum_count,
    quality_score, last_updated_datetime ISO string, ...)."""
    tree = _ref_tree()
    initial: list[dict] = []
    update: list[dict] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and node.targets:
            name = getattr(node.targets[0], "id", None)
            if name == "INITIAL_CRAWL_EXPECTED_ARTICLE_DOCS" and isinstance(
                node.value, ast.List
            ):
                initial = [
                    _dict_to_doc(e)
                    for e in node.value.elts
                    if isinstance(e, ast.Dict)
                ]
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "extend"
            and getattr(node.func.value, "id", None)
            == "UPDATE_CRAWL_EXPECTED_ARTICLE_DOCS"
            and node.args
            and isinstance(node.args[0], ast.List)
        ):
            update = [
                _dict_to_doc(e)
                for e in node.args[0].elts
                if isinstance(e, ast.Dict)
            ]
    return initial, update


# Frozen scoring instants (test_crawl.py:40-41; patch_utcnow at :2366/2373).
GOLDEN_INITIAL_NOW = "2019-09-06 05:00:00"
GOLDEN_UPDATE_NOW = "2019-09-07 16:30:00"


def _extract_url_map(dict_node: ast.Dict) -> dict[str, str]:
    """url → absolute fixture path, from {'url': os.path.join(TEST_DIR, rel)}."""
    out = {}
    for k, v in zip(dict_node.keys, dict_node.values):
        url = _const(k)
        if url is None:
            continue
        if isinstance(v, ast.Call) and len(v.args) == 2:
            rel = _const(v.args[1])
            if rel is not None:
                out[url] = os.path.join(REF_TEST_DIR, rel)
    return out


@lru_cache(maxsize=1)
def load_golden():
    """Returns (initial_docs, update_docs, url_map) where url_map merges
    the initial and update response maps (update wins for re-crawled
    urls, matching the UPDATE stage)."""
    tree = _ref_tree()
    initial_docs: list[dict] = []
    update_docs: list[dict] = []
    initial_map: dict[str, str] = {}
    update_map: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and node.targets:
            t = node.targets[0]
            name = getattr(t, "id", getattr(t, "attr", None))
            if name == "INITIAL_CRAWL_EXPECTED_ARTICLE_DOCS":
                initial_docs = _extract_docs(node.value)
            elif name == "_INITIAL_CRAWL_RESPONSE_HTML":
                initial_map = _extract_url_map(node.value)
            elif name == "_UPDATE_CRAWL_RESPONSE_HTML":
                update_map = _extract_url_map(node.value)
        # UPDATE docs are added via UPDATE_..._DOCS.extend([...]).
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "extend"
            and getattr(node.func.value, "id", None)
            == "UPDATE_CRAWL_EXPECTED_ARTICLE_DOCS"
            and node.args
            and isinstance(node.args[0], ast.List)
        ):
            update_docs = _extract_docs(node.args[0])
    url_map = dict(initial_map)
    url_map.update(update_map)
    return initial_docs, update_docs, url_map


def _fli_doc(d: ast.Dict) -> dict:
    """One golden FLI expectation: {title, positions, interp_sources}."""
    out = {}
    for k, v in zip(d.keys, d.values):
        key = _const(k)
        if key == "article_oid":
            out["title"] = _const(v)
        elif key == "found_positions" and isinstance(v, ast.List):
            poss = []
            for e in v.elts:
                if isinstance(e, ast.Dict):
                    p = {_const(pk): _const(pv) for pk, pv in zip(e.keys, e.values)}
                    poss.append((p["index"], p["len"]))
            out["positions"] = poss
        elif key == "possible_interps" and isinstance(v, ast.List):
            srcs = []
            detailed = []
            for e in v.elts:
                if not isinstance(e, ast.Dict):
                    continue
                interp = {"sources": None, "pos": None, "entry_id": None}
                for pk, pv in zip(e.keys, e.values):
                    pkc = _const(pk)
                    if pkc == "interp_sources" and isinstance(pv, ast.List):
                        interp["sources"] = tuple(_const(x) for x in pv.elts)
                    elif pkc == "jmdict_interp_entry_id":
                        interp["entry_id"] = _const(pv)
                    elif pkc == "mecab_interp" and isinstance(pv, ast.Dict):
                        for mk, mv in zip(pv.keys, pv.values):
                            if _const(mk) == "parts_of_speech" and isinstance(
                                mv, ast.List
                            ):
                                interp["pos"] = "-".join(
                                    _const(x) for x in mv.elts
                                )
                srcs.append(interp["sources"])
                detailed.append(interp)
            out["interp_sources"] = srcs
            out["interps"] = detailed
        elif key == "interp_position_map" and isinstance(v, ast.Dict):
            pmap = {}
            for mk, mv in zip(v.keys, v.values):
                if isinstance(mv, ast.List):
                    pmap[_const(mk)] = [
                        (
                            {_const(pk): _const(pv) for pk, pv in zip(e.keys, e.values)}[
                                "index"
                            ],
                            {_const(pk): _const(pv) for pk, pv in zip(e.keys, e.values)}[
                                "len"
                            ],
                        )
                        for e in mv.elts
                        if isinstance(e, ast.Dict)
                    ]
            out["interp_position_map"] = pmap
    return out


@lru_cache(maxsize=1)
def golden_fli_expectations() -> dict[str, list[dict]]:
    """term → [{title, positions, interp_sources, interp_position_map?}],
    merged initial + update stage (the reference's exhaustive FLI query
    expectations, test_crawl.py:856-1653)."""
    tree = _ref_tree()
    flis: dict[str, list[dict]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and node.targets:
            t0 = node.targets[0]
            name = getattr(t0, "id", None)
            if name == "INITIAL_CRAWL_EXPECTED_FLI_QUERY_DOCS" and isinstance(
                node.value, ast.Dict
            ):
                for k, v in zip(node.value.keys, node.value.values):
                    flis[_const(k)] = [
                        _fli_doc(e) for e in v.elts if isinstance(e, ast.Dict)
                    ]
            if (
                isinstance(t0, ast.Subscript)
                and getattr(t0.value, "id", None)
                == "UPDATE_CRAWL_EXPECTED_FLI_QUERY_DOCS"
                and isinstance(node.value, ast.List)
            ):
                flis.setdefault(_const(t0.slice), []).extend(
                    _fli_doc(e) for e in node.value.elts if isinstance(e, ast.Dict)
                )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "append"
            and isinstance(node.func.value, ast.Subscript)
            and getattr(node.func.value.value, "id", None)
            == "UPDATE_CRAWL_EXPECTED_FLI_QUERY_DOCS"
            and node.args
            and isinstance(node.args[0], ast.Dict)
        ):
            flis.setdefault(_const(node.func.value.slice), []).append(
                _fli_doc(node.args[0])
            )
    return flis


@lru_cache(maxsize=1)
def golden_article_texts() -> dict[str, str]:
    """title → full_text for initial+update golden articles (title ==
    the symbolic article_oid used by the FLI expectations)."""
    tree = _ref_tree()
    texts: dict[str, str] = {}

    def grab(list_node):
        for elt in list_node.elts:
            if not isinstance(elt, ast.Dict):
                continue
            d = {}
            for k, v in zip(elt.keys, elt.values):
                key = _const(k)
                if key in ("title", "full_text"):
                    d[key] = _const(v)
            if "title" in d and "full_text" in d:
                texts[d["title"]] = d["full_text"]

    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and node.targets:
            name = getattr(node.targets[0], "id", None)
            if name == "INITIAL_CRAWL_EXPECTED_ARTICLE_DOCS" and isinstance(
                node.value, ast.List
            ):
                grab(node.value)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "extend"
            and getattr(node.func.value, "id", None)
            == "UPDATE_CRAWL_EXPECTED_ARTICLE_DOCS"
            and node.args
            and isinstance(node.args[0], ast.List)
        ):
            grab(node.args[0])
    return texts


def source_of(url: str) -> str:
    if "kakuyomu.jp" in url:
        return "kakuyomu"
    if "asahi.com" in url:
        return "asahi"
    if "nhk.or.jp" in url:
        return "nhk"
    return "unknown"


def golden_pages(stage: str = "both") -> list[dict]:
    """[{url, html(bytes), source, full_text, text_hash, alnum_count}] for
    every golden article whose fixture exists in the url map."""
    tree = _ref_tree()
    initial_map: dict[str, str] = {}
    update_map: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and node.targets:
            t0 = node.targets[0]
            name = getattr(t0, "id", None) or getattr(t0, "attr", None)
            if name == "_INITIAL_CRAWL_RESPONSE_HTML":
                initial_map = _extract_url_map(node.value)
            elif name == "_UPDATE_CRAWL_RESPONSE_HTML":
                update_map = _extract_url_map(node.value)
    initial_docs, update_docs, _ = load_golden()
    docs: list[tuple[dict, dict]] = []
    if stage in ("initial", "both"):
        docs += [(d, initial_map) for d in initial_docs]
    if stage in ("update", "both"):
        merged = dict(initial_map)
        merged.update(update_map)
        docs += [(d, merged) for d in update_docs]
    pages = []
    seen = set()
    for doc, url_map in docs:
        url = doc.get("source_url")
        if url in seen:
            continue
        seen.add(url)
        path = url_map.get(url)
        if not path or not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            html = f.read()
        pages.append(
            {
                "url": url,
                "html": html,
                "source": source_of(url),
                "full_text": doc["full_text"],
                "text_hash": doc.get("text_hash"),
                "alnum_count": doc.get("alnum_count"),
                "title": doc.get("title"),
            }
        )
    return pages


@lru_cache(maxsize=1)
def golden_fli_score_docs() -> dict[str, list[dict]]:
    """term → raw golden FLI docs (with quality scores and article
    last_updated ISO strings) — the rank-identity oracle."""
    tree = _ref_tree()
    out: dict[str, list[dict]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            d = _dict_to_doc(node)
            if "quality_score_exact" in d and "article_oid" in d:
                out.setdefault(d["base_form"], []).append(d)
    return out
