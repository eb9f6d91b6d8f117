"""Minimal mutable DOM for the extraction core.

Pure-Python node tree with the traversal/mutation surface Readability needs
(behavioral parity targets: reference ``Readability/DomExtensions.cs`` helpers
and the DOM calls made by ``Readability.js``; see SURVEY.md §2.9).

Design notes
------------
- Children are plain Python lists; mutation helpers keep ``parent`` pointers
  coherent.
- Tag names and attribute names are lowercase ASCII.
- Attribute values are entity-decoded strings (the parser decodes them).
- ``Element.tag`` is mutable: ``set_tag`` covers the reference's
  ``_setNodeTag`` (keep attrs + children, swap name) without reallocating.
- Every node keeps a hint of its position in its parent's ``children``
  (``_pos``). A sibling step checks the hint by identity and falls back to
  ``children.index``, so walking a run of siblings is O(1) a step even after
  the run is edited.
- Cached subtree values (``Element._tc`` text, ``_itn`` normalised text,
  ``_sum`` the extraction core's subtree summary) are valid while the element
  is *fresh*. A node is marked fresh only by a computation that covered its
  whole subtree, so a fresh node has fresh descendants. A mutation clears
  the caches along the mutated parent's ancestor path and stops at the first
  ancestor that is already stale: each mutation costs O(1) amortised, and a
  cache is dropped only when its own subtree changed.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator, Optional

_WS_RE = re.compile(r"\s+")


def invalidate(el: "Optional[Element]") -> None:
    """Drop the cached subtree values of ``el`` and its ancestors, after a
    change to ``el``'s subtree. Stops at the first stale ancestor: every
    ancestor of a stale node is stale."""
    while el is not None and el._fresh:
        el._fresh = False
        el._tc = el._itn = el._sum = None
        el = el.parent


class Node:
    __slots__ = ("parent", "_pos")

    # class-level type flags: hot traversal loops read these instead of
    # isinstance() (2.4M isinstance calls showed up in extraction profiles)
    is_element = False
    is_text = False

    def __init__(self) -> None:
        self.parent: Optional[Element] = None
        self._pos = 0

    # -- tree position ----------------------------------------------------
    def _index(self) -> int:
        """Position in the parent's children: the hint when it still holds
        (or is off by one after an edit next to this node), else a scan."""
        sibs = self.parent.children
        i = self._pos
        if i < len(sibs) and sibs[i] is self:
            return i
        if 0 < i <= len(sibs) and sibs[i - 1] is self:
            i -= 1
        elif i + 1 < len(sibs) and sibs[i + 1] is self:
            i += 1
        else:
            i = sibs.index(self)
        self._pos = i
        return i

    @property
    def index_in_parent(self) -> int:
        assert self.parent is not None
        return self._index()

    @property
    def next_sibling(self) -> Optional["Node"]:
        if self.parent is None:
            return None
        sibs = self.parent.children
        i = self._index() + 1
        if i < len(sibs):
            nxt = sibs[i]
            nxt._pos = i
            return nxt
        return None

    @property
    def previous_sibling(self) -> Optional["Node"]:
        if self.parent is None:
            return None
        i = self._index() - 1
        if i >= 0:
            prev = self.parent.children[i]
            prev._pos = i
            return prev
        return None

    @property
    def next_element_sibling(self) -> Optional["Element"]:
        n = self.next_sibling
        while n is not None and not n.is_element:
            n = n.next_sibling
        return n

    @property
    def previous_element_sibling(self) -> Optional["Element"]:
        n = self.previous_sibling
        while n is not None and not n.is_element:
            n = n.previous_sibling
        return n

    # -- mutation ----------------------------------------------------------
    def remove(self) -> "Node":
        """Detach from parent; returns self."""
        parent = self.parent
        if parent is not None:
            del parent.children[self._index()]
            self.parent = None
            invalidate(parent)
        return self

    def replace_with(self, other: "Node") -> None:
        assert self.parent is not None
        parent = self.parent
        i = self._index()
        other.remove()
        parent.children[i] = other
        other.parent = parent
        other._pos = i
        self.parent = None
        invalidate(parent)

    def insert_before(self, new: "Node") -> None:
        """Insert ``new`` as previous sibling of self."""
        assert self.parent is not None
        new.remove()
        parent = self.parent
        i = self._index()
        parent.children.insert(i, new)
        new.parent = parent
        new._pos = i
        invalidate(parent)

    def insert_after(self, new: "Node") -> None:
        assert self.parent is not None
        new.remove()
        parent = self.parent
        i = self._index() + 1
        parent.children.insert(i, new)
        new.parent = parent
        new._pos = i
        invalidate(parent)

    # -- text --------------------------------------------------------------
    @property
    def text_content(self) -> str:
        return ""

    def ancestors(self, max_depth: int = 0) -> Iterator["Element"]:
        """Yield parent chain (closest first); max_depth=0 → unbounded."""
        i = 0
        node = self.parent
        while node is not None:
            i += 1
            yield node
            if max_depth and i >= max_depth:
                break
            node = node.parent


class Text(Node):
    __slots__ = ("data",)

    is_text = True

    def __init__(self, data: str) -> None:
        self.parent = None
        self._pos = 0
        self.data = data

    @property
    def text_content(self) -> str:
        return self.data

    def is_whitespace(self) -> bool:
        return not self.data.strip()

    def __repr__(self) -> str:  # pragma: no cover
        return f"Text({self.data[:40]!r})"


class Comment(Node):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        super().__init__()
        self.data = data

    def __repr__(self) -> str:  # pragma: no cover
        return f"Comment({self.data[:40]!r})"


class Element(Node):
    __slots__ = (
        "tag", "attrs", "children", "readability", "_flags", "_fresh", "_tc", "_itn", "_sum",
    )

    is_element = True

    def __init__(self, tag: str, attrs: Optional[dict] = None) -> None:
        self.parent = None
        self._pos = 0
        self.tag = tag
        self.attrs: dict = attrs if attrs is not None else {}
        self.children: list[Node] = []
        # side-band annotation slot (JS: node.readability = {contentScore})
        self.readability: Optional[dict] = None
        self._flags: int = 0  # bit flags: 1=svg-namespace, 2=data-table mark
        self._fresh = False  # subtree caches below may be read (see invalidate)
        self._tc = None  # text_content cache
        self._itn = None  # normalized inner_text cache (core.text)
        self._sum = None  # subtree summary cache (core.readability)

    # SVG-namespace mark: in a real DOM, SVG elements have a non-string
    # className, which makes every class-string heuristic skip them.
    @property
    def is_svg(self) -> bool:
        return bool(self._flags & 1)

    def mark_svg(self) -> None:
        self._flags |= 1

    @property
    def data_table(self) -> bool:
        return bool(self._flags & 2)

    def set_data_table(self, value: bool) -> None:
        flags = (self._flags | 2) if value else (self._flags & ~2)
        if flags != self._flags:
            self._flags = flags
            # ancestors' subtree summaries count data tables
            invalidate(self.parent)

    # -- attributes ---------------------------------------------------------
    def get_attr(self, name: str, default: Optional[str] = None) -> Optional[str]:
        return self.attrs.get(name, default)

    def set_attr(self, name: str, value: str) -> None:
        self.attrs[name] = value

    def remove_attr(self, name: str) -> None:
        self.attrs.pop(name, None)

    def has_attr(self, name: str) -> bool:
        return name in self.attrs

    @property
    def id(self) -> str:
        return self.attrs.get("id", "") or ""

    @property
    def class_name(self) -> str:
        return self.attrs.get("class", "") or ""

    def class_list(self) -> list[str]:
        return (self.attrs.get("class") or "").split()

    # -- children -----------------------------------------------------------
    def append_child(self, node: Node) -> Node:
        node.remove()
        node._pos = len(self.children)
        self.children.append(node)
        node.parent = self
        invalidate(self)
        return node

    def element_children(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    @property
    def first_element_child(self) -> Optional["Element"]:
        for c in self.children:
            if isinstance(c, Element):
                return c
        return None

    # -- traversal ------------------------------------------------------------
    def iter(self, include_self: bool = True) -> Iterator[Node]:
        """Pre-order walk of the subtree (snapshot-free; don't mutate while iterating)."""
        if include_self:
            yield self
        stack: list[Node] = list(reversed(self.children))
        while stack:
            node = stack.pop()
            yield node
            if node.is_element:
                stack.extend(reversed(node.children))

    def iter_elements(self, include_self: bool = False) -> Iterator["Element"]:
        for node in self.iter(include_self=include_self):
            if node.is_element:
                yield node

    def get_elements_by_tag_name(self, *names: str) -> list["Element"]:
        """Static snapshot (like querySelectorAll) of descendant elements by
        tag, in document order. Hot path — iterative walk over two parallel
        stacks (the enclosing children lists and the index to resume each
        at): no recursion (broken crawl HTML nests thousands deep), no
        reversed-slice allocations, and no per-level tuple, so a deep walk
        creates no object the cyclic GC tracks (on deep pages those made
        the collector's work grow faster than the page). (An epoch-keyed
        memoization of the snapshots was tried and measured ~0.5% hit rate
        — the cleanup passes mutate between queries — so queries are
        recomputed unconditionally.)"""
        out: list = []
        lists: list = []
        resume: list = []
        children = self.children
        i, n = 0, len(children)
        if len(names) == 1 and names[0] != "*":
            want_one = names[0]
            while True:
                while i < n:
                    node = children[i]
                    i += 1
                    if node.is_element:
                        if node.tag == want_one:
                            out.append(node)
                        if node.children:
                            lists.append(children)
                            resume.append(i)
                            children = node.children
                            i, n = 0, len(children)
                if not lists:
                    return out
                children = lists.pop()
                i, n = resume.pop(), len(children)
        want = set(names)
        everything = "*" in want
        while True:
            while i < n:
                node = children[i]
                i += 1
                if node.is_element:
                    if everything or node.tag in want:
                        out.append(node)
                    if node.children:
                        lists.append(children)
                        resume.append(i)
                        children = node.children
                        i, n = 0, len(children)
            if not lists:
                return out
            children = lists.pop()
            i, n = resume.pop(), len(children)

    def next_node(
        self, ignore_self_and_kids: bool = False, within: Optional["Element"] = None
    ) -> Optional["Element"]:
        """Depth-first next *element* (JS _getNextNode semantics), staying inside ``within``."""
        node: Node = self
        if not ignore_self_and_kids:
            for c in self.children:
                if c.is_element:
                    return c
        while node is not None:
            if within is not None and node is within:
                return None
            sib = node.next_sibling
            while sib is not None:
                if sib.is_element:
                    return sib
                sib = sib.next_sibling
            node = node.parent
            if node is None:
                return None
        return None

    def remove_and_get_next(self, within: Optional["Element"] = None) -> Optional["Element"]:
        nxt = self.next_node(ignore_self_and_kids=True, within=within)
        self.remove()
        return nxt

    def find_ancestor(self, pred: Callable[["Element"], bool]) -> Optional["Element"]:
        for a in self.ancestors():
            if pred(a):
                return a
        return None

    def has_ancestor_tag(
        self,
        tag: str,
        max_depth: int = 3,
        filter_fn: Optional[Callable[["Element"], bool]] = None,
    ) -> bool:
        # Depth accounting mirrors the reference loop exactly (it checks
        # max_depth + 1 ancestor levels for a positive max_depth).
        depth = 0
        node = self.parent
        while node is not None:
            if max_depth > 0 and depth > max_depth:
                return False
            if node.tag == tag and (filter_fn is None or filter_fn(node)):
                return True
            node = node.parent
            depth += 1
        return False

    # -- text ------------------------------------------------------------------
    @property
    def text_content(self) -> str:
        tc = self._tc
        if tc is not None:
            return tc
        # Iterative flat pre-order walk (broken crawl HTML nests thousands of
        # elements deep — recursion would overflow). Cached descendant texts
        # are consumed in place, so the common bottom-up access pattern of the
        # scoring phases (per-paragraph inner_text, then overlapping ancestor
        # chains) still reuses them; only the queried root's cache is filled,
        # and every element the walk covers is marked fresh.
        parts: list[str] = []
        append = parts.append
        stack: list = list(self.children)
        stack.reverse()
        pop = stack.pop
        while stack:
            node = pop()
            if node.is_text:
                append(node.data)
            elif node.is_element:
                ntc = node._tc
                if ntc is not None:
                    append(ntc)
                else:
                    node._fresh = True
                    kids = node.children
                    if kids:
                        if len(kids) == 1:
                            stack.append(kids[0])
                        else:
                            stack.extend(reversed(kids))
        text = "".join(parts)
        self._fresh = True
        self._tc = text
        return text

    def has_descendant_tag(self, *names: str) -> bool:
        """True iff any descendant element's tag is in ``names`` — the
        early-exit form of ``bool(get_elements_by_tag_name(*names))`` (no
        snapshot list, stops at the first hit, in document order)."""
        stack: list = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if node.is_element:
                if node.tag in names:
                    return True
                stack.extend(reversed(node.children))
        return False

    def has_text_content(self, ws_chars: str) -> bool:
        """True iff any descendant text node has a char outside ``ws_chars``
        — equivalent to ``text_content.strip(ws_chars) != ""`` but with an
        early exit at the first contentful text node in document order, no
        join, and no cache fill. Consumes cached ``text_content`` strings
        where present (checks the cached string instead of descending)."""
        tc = self._tc
        if tc is not None:
            return bool(tc.strip(ws_chars))
        stack: list = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if node.is_text:
                if node.data.strip(ws_chars):
                    return True
            elif node.is_element:
                ntc = node._tc
                if ntc is not None:
                    if ntc.strip(ws_chars):
                        return True
                else:
                    stack.extend(reversed(node.children))
        return False

    def set_text(self, text: str) -> None:
        for c in list(self.children):
            c.remove()
        self.append_child(Text(text))

    # -- misc --------------------------------------------------------------------
    def set_tag(self, tag: str) -> "Element":
        """Rename in place (reference _setNodeTag keeps attrs + children)."""
        if tag != self.tag:
            self.tag = tag
            # ancestors' subtree summaries count tags
            invalidate(self.parent)
        return self

    def clone(self, deep: bool = True) -> "Element":
        el = Element(self.tag, dict(self.attrs))
        el._flags = self._flags  # keep svg-namespace / data-table marks
        if not deep:
            return el
        # iterative pairwise walk (src element, dst copy) — depth-safe
        stack: list = [(self, el)]
        while stack:
            src, dst = stack.pop()
            kids = dst.children
            for c in src.children:
                if c.is_element:
                    copy = Element(c.tag, dict(c.attrs))
                    copy._flags = c._flags
                    copy.parent = dst
                    copy._pos = len(kids)
                    kids.append(copy)
                    if c.children:
                        stack.append((c, copy))
                elif c.is_text:
                    t = Text(c.data)
                    t.parent = dst
                    t._pos = len(kids)
                    kids.append(t)
                elif isinstance(c, Comment):
                    cm = Comment(c.data)
                    cm.parent = dst
                    cm._pos = len(kids)
                    kids.append(cm)
        return el

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{self.tag} id={self.id!r} class={self.class_name!r} kids={len(self.children)}>"


class Document(Element):
    """Root node; also the node factory (mirrors DOM document)."""

    __slots__ = ("base_uri",)

    def __init__(self) -> None:
        super().__init__("#document")
        self.base_uri: Optional[str] = None

    @property
    def document_element(self) -> Optional[Element]:
        for c in self.children:
            if isinstance(c, Element) and c.tag == "html":
                return c
        return None

    @property
    def head(self) -> Optional[Element]:
        html = self.document_element
        if html is None:
            return None
        for c in html.children:
            if isinstance(c, Element) and c.tag == "head":
                return c
        return None

    @property
    def body(self) -> Optional[Element]:
        html = self.document_element
        if html is None:
            return None
        for c in html.children:
            if isinstance(c, Element) and c.tag == "body":
                return c
        return None

    def create_element(self, tag: str) -> Element:
        return Element(tag.lower())

    def create_text_node(self, data: str) -> Text:
        return Text(data)
