"""Per-document extraction — the parse stage as one pure function.

The reference's parse pipeline per document (ref
ferenda/documentrepository.py:1125-1148 and decorator stack
ferenda/decorators.py:332-343):

  downloaded bytes → soup → parse_metadata_from_soup →
  parse_document_from_soup → render to XHTML+RDFa → re-parse → distilled
  triple graph; then relate_fulltext extracts per-resource plaintext.

Here the same semantics collapse into ``extract_document``:

  html bytes → tree → metadata triples + RDFa distillation + (heading
  segmentation | RFC FSM parse) + per-resource plaintext

returning a plain dict so the Spark stage (operators/extract.py) can emit
it from an Arrow-batched UDF. RFC-style plaintext documents (url suffix
.txt) go through the FSM parser instead of the HTML path.
"""

from __future__ import annotations

from .fsm import FSMStateError
from .htmltree import clean_tree, parse_html, select_content, SelectorError
from .linking import ResourceLookup
from .metadata import metadata_triples
from .model import Triple
from .rdfa import extract_rdfa
from .rfcdoc import parse_rfc
from .segment import segment_headings
from .textextract import normalize_space, resource_texts
from .uris import RepoConfig, basefile_from_url


def _dedup(triples):
    seen, out = set(), []
    for t in triples:
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def extract_document(url: str, html: bytes, cfg: RepoConfig,
                     commondata=None, encoding: str = "utf-8",
                     patches: dict | None = None) -> dict:
    """→ {url, uri, lang, title, text, resources: [(uri, text)],
         triples: [Triple], status, error}

    ``patches``: broadcast {url: (unified_diff, description)} applied to
    the decoded text before parsing (≙ patch_if_needed,
    ref ferenda/documentrepository.py:1284-1333 — rare-row branch)."""
    basefile = basefile_from_url(url)
    if isinstance(commondata, dict) and commondata:
        commondata = ResourceLookup.from_dict(commondata).lookup
    try:
        if patches and url in patches:
            from .patch import patch_text
            patched, _desc = patch_text(
                url, bytes(html).decode(encoding, errors="replace"), patches)
            html = patched.encode(encoding)
        if url.endswith(".txt"):
            return _extract_rfc(url, html, basefile, cfg, commondata, encoding)
        return _extract_html(url, html, basefile, cfg, encoding)
    except (SelectorError, FSMStateError, ValueError, KeyError,
            IndexError) as exc:
        return {"url": url, "uri": cfg.canonical_uri(basefile),
                "lang": "", "title": None, "text": "", "resources": [],
                "triples": [], "status": "fail", "error": repr(exc)}


def _extract_rfc(url, html, basefile, cfg, commondata, encoding):
    text = bytes(html).decode(encoding, errors="replace")
    doc = parse_rfc(text, basefile, cfg, commondata)
    title = next((t.object for t in doc.triples
                  if t.predicate.endswith("/title")
                  and t.subject == doc.uri), None)
    doc_text = normalize_space(" ".join(t for _, t in doc.texts))
    return {"url": url, "uri": doc.uri, "lang": doc.lang, "title": title,
            "text": doc_text, "resources": doc.texts,
            "triples": doc.triples, "status": "ok", "error": None}


def _extract_html(url, html, basefile, cfg, encoding):
    root = parse_html(html, encoding)
    uri = cfg.canonical_uri(basefile)
    lang, title, triples = metadata_triples(root, uri, basefile, cfg)
    triples += extract_rdfa(root, uri, default_lang=lang)

    body = select_content(root, cfg.content_selector, cfg.filter_selectors)
    body = clean_tree(body)
    if body is None:
        raise SelectorError("content root dropped by clean rules")
    if not body.get("about"):
        body.attrs["about"] = uri

    resources = resource_texts(body)
    has_about_parts = len(resources) > 1
    if not has_about_parts:
        sec_triples, sec_texts, found, doc_text = segment_headings(
            body, uri, lang)
        if found:
            triples += sec_triples
            resources = [(uri, doc_text)] + sec_texts
        # else: resources already [(uri, full body text)]

    doc_text = resources[0][1] if resources else ""
    return {"url": url, "uri": uri, "lang": lang, "title": title,
            "text": doc_text, "resources": resources,
            "triples": _dedup(triples), "status": "ok", "error": None}
