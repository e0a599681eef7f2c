"""JSON-LD Framing (json-ld.org 1.0-era algorithm).

The reference vendors the frame-* fixtures with no implementation
(SURVEY.md §5.1); this follows the framing algorithm as the suite's
generation-era processors defined it: expand input + frame (frame mode),
build a merged node map, match subjects against the frame (@type match or
duck-typing), embed with @embed/@explicit/@omitDefault/@default flags
(last-embed-wins re-embedding), compact with the frame's context, always
wrapped in @graph, then resolve @preserve default markers (null scalars,
dropped array entries).
"""

from __future__ import annotations

import copy
from typing import Any, Dict, List, Optional

from .compact import compact as _compact
from .expand import expand as _expand
from .node_map import BlankNodeIssuer, _append_unless_member, generate_node_map


def _is_keyword(k: str) -> bool:
    return isinstance(k, str) and k.startswith("@")


def _is_subject_reference(v: Any) -> bool:
    return isinstance(v, dict) and list(v.keys()) == ["@id"]


def _merged_node_map(expanded: List[Any]) -> Dict[str, Any]:
    """Node map over all graphs merged into one subject map."""
    node_map: Dict[str, Dict[str, Any]] = {"@default": {}}
    generate_node_map(copy.deepcopy(expanded), node_map, BlankNodeIssuer())
    merged: Dict[str, Any] = {}
    for graph in node_map.values():
        for node_id, node in graph.items():
            target = merged.setdefault(node_id, {"@id": node_id})
            for prop, values in node.items():
                if prop == "@id":
                    continue
                if prop == "@index":
                    target.setdefault("@index", values)
                    continue
                arr = target.setdefault(prop, [])
                for v in values:
                    _append_unless_member(arr, v)
    return merged


def _flag(frame: Dict[str, Any], options: Dict[str, Any], name: str) -> bool:
    value = frame.get("@" + name, [options[name]])
    if isinstance(value, list):
        value = value[0] if value else options[name]
    return bool(value)


def _filter_subject(subject: Dict[str, Any], frame: Dict[str, Any]) -> bool:
    types = frame.get("@type")
    if types is not None and not (
            len(types) == 1 and isinstance(types[0], dict)):
        return any(t in subject.get("@type", []) for t in types)
    if "@id" in frame:
        ids = frame["@id"]
        if isinstance(ids, list) and ids and not (
                len(ids) == 1 and isinstance(ids[0], dict)):
            if subject["@id"] not in ids:
                return False
    for k in frame:
        if k == "@id" or not _is_keyword(k):
            if k != "@id" and k not in subject:
                return False
    return True


def _add_output(parent, prop: Optional[str], output: Any) -> None:
    if isinstance(parent, list):
        parent.append(output)
    else:
        parent.setdefault(prop, []).append(output)


def _match_frame(state: Dict[str, Any], subjects: List[str],
                 frame: Dict[str, Any], parent, prop: Optional[str]) -> None:
    options = state["options"]
    embed_flag = _flag(frame, options, "embed")
    explicit = _flag(frame, options, "explicit")

    matches = {s: state["subjects"][s] for s in subjects
               if _filter_subject(state["subjects"][s], frame)}

    for id_ in sorted(matches.keys()):
        subject = matches[id_]
        if prop is None:
            state["embeds"] = {}

        output: Dict[str, Any] = {"@id": id_}
        embed_on = embed_flag
        if embed_on and id_ in state["embeds"]:
            existing = state["embeds"][id_]
            embed_on = False
            ref = {"@id": id_}
            ex_parent = existing["parent"]
            if isinstance(ex_parent, list):
                embed_on = any(p == ref for p in ex_parent)
            else:
                vals = ex_parent.get(existing["property"], [])
                embed_on = any(
                    isinstance(v, dict) and v.get("@id") == id_
                    for v in vals)
            if embed_on:
                _remove_embed(state, id_)

        if not embed_on:
            _add_output(parent, prop, {"@id": id_})
            continue

        state["embeds"][id_] = {"parent": parent, "property": prop}
        for p in sorted(subject.keys()):
            objects = subject[p]
            if _is_keyword(p):
                if p != "@id":
                    output[p] = copy.deepcopy(objects)
                continue
            if explicit and p not in frame:
                continue
            for o in objects:
                if isinstance(o, dict) and "@list" in o:
                    list_out: Dict[str, Any] = {"@list": []}
                    _add_output(output, p, list_out)
                    for oo in o["@list"]:
                        if _is_subject_reference(oo):
                            subframe = {}
                            if p in frame and frame[p] \
                                    and isinstance(frame[p][0], dict) \
                                    and "@list" in frame[p][0] \
                                    and frame[p][0]["@list"]:
                                subframe = frame[p][0]["@list"][0]
                            _match_frame(state, [oo["@id"]], subframe,
                                         list_out["@list"], "@list")
                        else:
                            list_out["@list"].append(copy.deepcopy(oo))
                elif _is_subject_reference(o):
                    subframe = frame[p][0] if p in frame and frame[p] else {}
                    if not isinstance(subframe, dict):
                        subframe = {}
                    _match_frame(state, [o["@id"]], subframe, output, p)
                else:
                    _add_output(output, p, copy.deepcopy(o))

        # defaults
        for p in sorted(frame.keys()):
            if _is_keyword(p):
                continue
            pf = frame[p][0] if frame[p] and isinstance(frame[p][0], dict) \
                else {}
            if _flag(pf, options, "omitDefault") or p in output:
                continue
            preserve: Any = "@null"
            if "@default" in pf:
                preserve = copy.deepcopy(pf["@default"])
            if not isinstance(preserve, list):
                preserve = [preserve]
            output[p] = [{"@preserve": preserve}]

        _add_output(parent, prop, output)


def _remove_embed(state: Dict[str, Any], id_: str) -> None:
    embeds = state["embeds"]
    embed = embeds[id_]
    parent = embed["parent"]
    prop = embed["property"]
    ref = {"@id": id_}
    if isinstance(parent, list):
        for i, p in enumerate(parent):
            if isinstance(p, dict) and p.get("@id") == id_:
                parent[i] = ref
                break
    else:
        vals = parent.get(prop, [])
        for i, v in enumerate(vals):
            if isinstance(v, dict) and v.get("@id") == id_:
                vals[i] = ref
                break

    def remove_dependents(dep_id: str) -> None:
        for next_id in list(embeds.keys()):
            e = embeds.get(next_id)
            if e is None:
                continue
            e_parent = e["parent"]
            if isinstance(e_parent, dict) and e_parent.get("@id") == dep_id:
                del embeds[next_id]
                remove_dependents(next_id)

    del embeds[id_]
    remove_dependents(id_)


def _remove_preserve(v: Any) -> Any:
    if isinstance(v, list):
        return [_remove_preserve(item) for item in v]
    if isinstance(v, dict):
        if "@preserve" in v:
            p = v["@preserve"]
            if p == "@null" or p == ["@null"]:
                return None
            if isinstance(p, list) and len(p) == 1:
                return p[0]
            return p
        return {k: _remove_preserve(val) for k, val in v.items()}
    return v


def frame(
    document: Any,
    frame_doc: Dict[str, Any],
    *,
    base: Optional[str] = None,
    remote_contexts: Optional[Dict[str, Any]] = None,
    embed: bool = True,
    explicit: bool = False,
    omit_default: bool = False,
) -> Dict[str, Any]:
    expanded = _expand(document, base=base, remote_contexts=remote_contexts)
    expanded_frame = _expand(frame_doc, base=base,
                             remote_contexts=remote_contexts,
                             frame_expansion=True)
    frame_obj = expanded_frame[0] if expanded_frame else {}
    if not isinstance(frame_obj, dict):
        frame_obj = {}

    subjects = _merged_node_map(expanded)
    state = {
        "options": {"embed": embed, "explicit": explicit,
                    "omitDefault": omit_default},
        "subjects": subjects,
        "embeds": {},
    }
    framed: List[Any] = []
    _match_frame(state, sorted(subjects.keys()), frame_obj, framed, None)

    context = frame_doc.get("@context") if isinstance(frame_doc, dict) \
        else None
    compacted = _compact(framed, context, base=base,
                         remote_contexts=remote_contexts,
                         already_expanded=True, force_graph=True)
    from .context import ActiveContext, process_context

    active = process_context(ActiveContext(base), context, remote_contexts) \
        if context is not None else ActiveContext(base)
    resolved = _remove_preserve(compacted)
    return _post_process(active, resolved)


def _post_process(active, v: Any) -> Any:
    """Preserve-nulls survive as object member values (defaulted
    properties -> JSON null) but disappear from arrays; singleton arrays
    unwrap unless the term has an @set/@list container (matches the
    suite-era processors' remove-preserve pass)."""
    if isinstance(v, list):
        out = []
        for x in v:
            r = _post_process(active, x)
            if r is not None:
                out.append(r)
        return out
    if isinstance(v, dict):
        res: Dict[str, Any] = {}
        for k, val in v.items():
            r = _post_process(active, val)
            if isinstance(r, list) and len(r) == 1 \
                    and not _is_keyword(k) \
                    and active.container(k) not in ("@set", "@list"):
                r = r[0]
            res[k] = r
        return res
    return v
