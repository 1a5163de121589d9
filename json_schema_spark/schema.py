"""The driver-side schema AST.

``SchemaNode`` carries the same attribute surface as the reference's Schema
class (lib/json_schema/schema.rb:15-294): identity/topology (fragment,
parent, uri, reference, raw data), metadata, the draft-4 keyword set, and the
hyper-schema extras. It exists only on the driver — it is compiled once into
Catalyst column expressions and never shipped per-row.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from .errors import AggregateError

# The type names a schema may declare (Schema::TYPE_MAP, schema.rb:5-13).
ALLOWED_TYPES = ["any", "array", "boolean", "integer", "number", "null", "object", "string"]


@dataclass
class Media:
    """Hyper-schema media descriptor (schema.rb:289-292)."""

    binary_encoding: Optional[str] = None
    type: Optional[str] = None


class SchemaNode:
    """One node of the parsed schema AST."""

    # attributes copied when a $ref node is dereferenced onto its target
    # (analog of Attributes::copy_from, attributes.rb:105-109)
    COPYABLE = [
        "id", "title", "description", "default",
        "all_of", "any_of", "definitions", "enum", "one_of", "not_",
        "type", "additional_items", "items", "tuple_items", "max_items",
        "min_items", "unique_items", "max", "max_exclusive", "min",
        "min_exclusive", "multiple_of", "additional_properties",
        "dependencies", "max_properties", "min_properties",
        "pattern_properties", "properties", "required", "strict_properties",
        "format", "max_length", "min_length", "pattern",
        "links", "media", "path_start", "read_only",
        "data", "uri", "clones",
    ]

    def __init__(self, fragment: str = "#", parent: Optional["SchemaNode"] = None):
        # identity / topology
        self.fragment = fragment
        self.parent = parent
        self.uri: Optional[str] = None
        self.reference = None  # Reference | None — set when node is a bare $ref
        self.data: Optional[dict] = None
        self.expanded = False
        # all dereferenced copies of this node share one set (schema.rb:55-63)
        self.clones: set = set()

        # metadata
        self.id: Optional[str] = None
        self.title: Optional[str] = None
        self.description: Optional[str] = None
        self.default: Any = None

        # validation: any
        self.all_of: list = []
        self.any_of: list = []
        self.definitions: dict = {}
        self.enum: Optional[list] = None
        self.one_of: list = []
        self.not_: Optional["SchemaNode"] = None
        self.type: Optional[list] = None

        # validation: array.  `items` holds the single-schema (list) form,
        # `tuple_items` the positional form — the reference overloads one
        # attribute (schema.rb:146); we split for clarity.
        self.additional_items: Any = None  # bool | SchemaNode | None (default true)
        self.items: Optional["SchemaNode"] = None
        self.tuple_items: Optional[list] = None
        self.max_items: Optional[int] = None
        self.min_items: Optional[int] = None
        self.unique_items: Optional[bool] = None

        # validation: number/integer
        self.max: Any = None
        self.max_exclusive: Optional[bool] = None
        self.min: Any = None
        self.min_exclusive: Optional[bool] = None
        self.multiple_of: Any = None

        # validation: object
        self.additional_properties: Any = None  # bool | SchemaNode | None (default true)
        self.dependencies: dict = {}
        self.max_properties: Optional[int] = None
        self.min_properties: Optional[int] = None
        self.pattern_properties: dict = {}
        self.properties: dict = {}
        self.required: Optional[list] = None
        self.strict_properties: Optional[bool] = None

        # validation: string
        self.format: Optional[str] = None
        self.max_length: Optional[int] = None
        self.min_length: Optional[int] = None
        self.pattern: Optional[str] = None  # source text; compiled separately

        # hyper-schema
        self.links: Optional[list] = None
        self.media: Optional[Media] = None
        self.path_start: Optional[str] = None
        self.read_only: Optional[bool] = None

    # --- derived -----------------------------------------------------------

    @property
    def pointer(self) -> str:
        """JSON pointer of this node inside its document (schema.rb:265-271)."""
        if self.parent is not None:
            return f"{self.parent.pointer}/{self.fragment}"
        return self.fragment

    def additional_items_allowed(self) -> bool:
        return self.additional_items is not False

    def additional_properties_allowed(self) -> bool:
        return self.additional_properties is not False

    def expand_references(self, store=None):
        from .expander import ReferenceExpander

        expander = ReferenceExpander()
        ok = expander.expand(self, store=store)
        return ok, expander.errors

    def expand_references_bang(self, store=None) -> None:
        ok, errors = self.expand_references(store=store)
        if not ok:
            raise AggregateError(errors)

    # --- ref plumbing ------------------------------------------------------

    def copy_from(self, other: "SchemaNode") -> None:
        for attr in self.COPYABLE:
            setattr(self, attr, getattr(other, attr))
        self.expanded = other.expanded

    def original(self) -> bool:
        """True when this node is not a dereferenced clone (schema.rb:262)."""
        return self not in self.clones

    def __getitem__(self, key: str):
        """Index into definitions by name (schema.rb test surface)."""
        return self.definitions[key]

    def __repr__(self) -> str:
        ref = f" $ref={self.reference}" if self.reference else ""
        return f"#<SchemaNode pointer={self.pointer}{ref}>"


class Link(SchemaNode):
    """Hyper-schema link (schema.rb:284-287): a SchemaNode plus link attrs."""

    def __init__(self, fragment: str = "#", parent: Optional[SchemaNode] = None):
        super().__init__(fragment, parent)
        self.enc_type: Optional[str] = None
        self.href: Optional[str] = None
        self.method: Optional[str] = None
        self.rel: Optional[str] = None
        self.media_type: Optional[str] = None
        self.schema: Optional[SchemaNode] = None
        self.target_schema: Optional[SchemaNode] = None
