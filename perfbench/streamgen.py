"""Seeded synthetic catalog stream: a concatenated ``all.json`` and the
ground truth every catalog answer is checked against.

The stream mirrors a file-based catalog dump: ``olm.package`` documents
carry their package in ``name``, every other schema names its package in
``package``. Properties the ingest path branches on are all present:

- compact and pretty-printed documents mixed in the first 64 KB (and
  some glued ``}{`` with no separator), so the JSONL head-probe rejects
  the file and the concatenated splitter runs;
- about 2% of non-package documents with an empty ``package``, which the
  store keys under ``__global``;
- about 1% of documents re-emitted later in the stream with a new body,
  so the last occurrence must win;
- an icon on about 70% of ``olm.package`` documents.

``Catalog`` holds the generator's own view of the documents, in stream
order; ``truth()`` applies the key rules independently of the program.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass, field

SCHEMAS = (
    "olm.package",
    "olm.channel",
    "olm.bundle",
    "olm.deprecations",
    "olm.csv.metadata",
    "olm.bundle.object",
)
# documents per package for each schema after olm.package (one per package)
PER_PACKAGE = {
    "olm.channel": 3,
    "olm.bundle": 12,
    "olm.deprecations": 1,
    "olm.csv.metadata": 8,
    "olm.bundle.object": 8,
}
GLOBAL = "__global"
EMPTY_PACKAGE_FRAC = 0.02
DUPLICATE_FRAC = 0.01
ICON_FRAC = 0.70
PRETTY_FRAC = 0.05
GLUED_FRAC = 0.05
MEDIA_TYPES = ("image/svg+xml", "image/png")


@dataclass
class Doc:
    schema: str
    package: str  # as written in the document ("" for the empty case)
    name: str
    body: dict
    pretty: bool = False

    @property
    def key(self) -> tuple[str, str, str]:
        pkg = self.name if self.schema == "olm.package" else self.package
        return (pkg or GLOBAL, self.schema, self.name)

    def text(self) -> str:
        if self.pretty:
            return json.dumps(self.body, indent=2)
        return json.dumps(self.body, separators=(",", ":"))


@dataclass
class Catalog:
    """The documents of one stream, in stream order, and the generator
    that made them."""

    rng: random.Random
    docs: list[Doc] = field(default_factory=list)
    serial: int = 0

    # -- document factories ------------------------------------------------
    def _next(self) -> int:
        self.serial += 1
        return self.serial

    def package_doc(self, pkg: str) -> Doc:
        body = {"schema": "olm.package", "name": pkg, "defaultChannel": "stable"}
        if self.rng.random() < ICON_FRAC:
            raw = f"<svg id='{pkg}' r='{self.rng.randrange(1 << 30)}'/>".encode()
            body["icon"] = {
                "base64data": base64.b64encode(raw).decode(),
                "mediatype": self.rng.choice(MEDIA_TYPES),
            }
        return Doc("olm.package", "", pkg, body, self.rng.random() < PRETTY_FRAC)

    def member_doc(self, pkg: str, schema: str) -> Doc:
        n = self._next()
        if self.rng.random() < EMPTY_PACKAGE_FRAC:
            pkg = ""
        name = f"{schema.rsplit('.', 1)[-1]}-{n}"
        body = {
            "schema": schema,
            "package": pkg,
            "name": name,
            "image": f"registry.example/{pkg or 'shared'}@sha256:{self.rng.getrandbits(64):016x}",
            "properties": [{"type": "olm.gvk", "value": {"version": f"v{n % 7}"}}],
        }
        return Doc(schema, pkg, name, body, self.rng.random() < PRETTY_FRAC)

    def edited(self, doc: Doc) -> Doc:
        body = dict(doc.body)
        body["rev"] = self._next()
        return Doc(doc.schema, doc.package, doc.name, body, doc.pretty)

    # -- stream ------------------------------------------------------------
    def render(self) -> bytes:
        """Serialize in stream order. Whether a document is glued to the
        next one (``}{``) is drawn from a generator seeded by the
        document count, so the same documents give the same bytes."""
        rng = random.Random(len(self.docs))
        return "".join(
            d.text() + ("" if rng.random() < GLUED_FRAC else "\n") for d in self.docs
        ).encode()

    def truth(self) -> dict[tuple[str, str, str], Doc]:
        """Key → the last document written under it (last wins)."""
        out: dict[tuple[str, str, str], Doc] = {}
        for d in self.docs:
            out[d.key] = d
        return out


def generate(seed: int, n_packages: int, scale: int) -> Catalog:
    """Build the initial catalog for ``seed``: ``n_packages`` packages
    × 6 schemas with ``scale`` × ``PER_PACKAGE`` members each, then
    about 1% duplicate keys inserted in the second half of the stream."""
    rng = random.Random(seed)
    packages = [f"pkg-{i:04d}-{rng.randrange(1 << 16):04x}" for i in range(n_packages)]
    cat = Catalog(rng)
    docs: list[Doc] = []
    for pkg in packages:
        docs.append(cat.package_doc(pkg))
        for schema, n in PER_PACKAGE.items():
            docs.extend(cat.member_doc(pkg, schema) for _ in range(n * scale))
    rng.shuffle(docs)
    # pretty-print the first documents regardless of the draw, so the
    # JSONL head-probe (64 KB) always meets a multi-line document
    for d in docs[:4]:
        d.pretty = True
    dups = [cat.edited(d) for d in rng.sample(docs, int(len(docs) * DUPLICATE_FRAC))]
    for d in dups:
        docs.insert(rng.randrange(len(docs) // 2, len(docs) + 1), d)
    cat.docs = docs
    return cat


def icon_of(doc: Doc) -> tuple[bytes, str] | None:
    icon = doc.body.get("icon")
    if not icon:
        return None
    return base64.b64decode(icon["base64data"]), icon["mediatype"]
