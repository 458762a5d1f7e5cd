"""NGFF transformation interop classes.

Reference surface: ``transformations/ngff/ngff_coordinate_system.py``
(NgffAxis :14, NgffCoordinateSystem :53) and
``transformations/ngff/ngff_transformations.py`` (the eight
transformation types of the NGFF coordinate-transformations proposal:
identity :395, mapAxis :460, translation :551, scale :618, affine :283,
rotation :687, sequence :764, byDimension :1055).  This module parses
and emits the same JSON wire forms — including foreign stores carrying
axis units and exotic coordinate-system metadata — and converts every
type to this library's native transformation algebra so stores written
by other NGFF tooling query identically.

Wire forms (all may carry ``input``/``output`` coordinate systems,
either names or full CS dicts):

* ``{"type": "identity"}``
* ``{"type": "mapAxis", "mapAxis": {out_axis: in_axis, ...}}``
* ``{"type": "translation", "translation": [..]}``
* ``{"type": "scale", "scale": [..]}``
* ``{"type": "affine", "affine": [[..], ..]}``  (d rows, d+1 cols)
* ``{"type": "rotation", "rotation": [flat row-major d*d]}``
* ``{"type": "sequence", "transformations": [..]}``
* ``{"type": "byDimension", "transformations": [..]}`` — sub-transforms
  whose output coordinate systems partition the output axes.
"""

from __future__ import annotations

import json

import numpy as np

from spatialdata_spark.transformations.base import (
    Affine,
    BaseTransformation,
    Identity,
    MapAxis,
    Scale,
    Sequence,
    Translation,
)


class NgffAxis:
    """One axis: name + type (space/channel/time/array) + optional unit."""

    def __init__(self, name: str, type: str, unit: str | None = None):
        self.name = name
        self.type = type
        self.unit = unit

    def to_dict(self) -> dict:
        d = {"name": self.name, "type": self.type}
        if self.unit is not None:
            d["unit"] = self.unit
        return d

    @staticmethod
    def from_dict(d: dict) -> "NgffAxis":
        if "name" not in d or "type" not in d:
            raise ValueError("each NGFF axis needs a name and a type")
        return NgffAxis(d["name"], d["type"], d.get("unit"))

    def __eq__(self, other) -> bool:
        return isinstance(other, NgffAxis) and self.to_dict() == other.to_dict()

    def __repr__(self) -> str:
        return f"NgffAxis({self.name!r}, {self.type!r}, {self.unit!r})"


class NgffCoordinateSystem:
    """A named tuple of NGFF axes."""

    def __init__(self, name: str, axes: list[NgffAxis] | None = None):
        self.name = name
        self.axes = list(axes or [])
        if len(self.axes) != len({a.name for a in self.axes}):
            raise ValueError("axes names must be unique")

    @property
    def axes_names(self) -> tuple[str, ...]:
        return tuple(a.name for a in self.axes)

    def to_dict(self) -> dict:
        return {"name": self.name, "axes": [a.to_dict() for a in self.axes]}

    @staticmethod
    def from_dict(d: dict) -> "NgffCoordinateSystem":
        if "name" not in d or "axes" not in d:
            raise ValueError("an NGFF coordinate system needs a name and axes")
        return NgffCoordinateSystem(d["name"], [NgffAxis.from_dict(a) for a in d["axes"]])

    @staticmethod
    def from_json(data: str | bytes) -> "NgffCoordinateSystem":
        return NgffCoordinateSystem.from_dict(json.loads(data))

    def to_json(self) -> str:
        return json.dumps(self.to_dict())

    def __eq__(self, other) -> bool:
        return isinstance(other, NgffCoordinateSystem) and self.to_dict() == other.to_dict()

    def __repr__(self) -> str:
        return f"NgffCoordinateSystem({self.name!r}, {self.axes})"


def get_default_coordinate_system(dims: tuple[str, ...], name: str | None = None) -> NgffCoordinateSystem:
    """A CS over ``dims`` with spatial axes typed 'space' and 'c' typed
    'channel' (reference ngff/_utils.py:39)."""
    axes = [
        NgffAxis(d, "channel" if d == "c" else "space", None if d == "c" else "unit")
        for d in dims
    ]
    return NgffCoordinateSystem(name or "".join(dims), axes)


def _cs_of(value, fallback_axes: tuple[str, ...] | None = None):
    """input/output entries may be a CS name (str) or a full CS dict."""
    if value is None:
        return None
    if isinstance(value, str):
        return value
    return NgffCoordinateSystem.from_dict(value)


class NgffTransformation:
    """A parsed NGFF transformation: wire dict <-> native algebra.

    Unlike the reference's class-per-type hierarchy, the Spark port
    keeps one value object holding the parsed payload plus the
    input/output coordinate systems; the native conversion is where the
    semantics live, and the native classes already implement the
    axis-aware matrix algebra.
    """

    def __init__(self, kind: str, payload: dict, input_cs=None, output_cs=None):
        self.kind = kind
        self.payload = payload
        self.input_cs = input_cs
        self.output_cs = output_cs

    # -- parsing ---------------------------------------------------------

    @staticmethod
    def from_dict(d: dict) -> "NgffTransformation":
        kind = d.get("type")
        if kind not in (
            "identity",
            "mapAxis",
            "translation",
            "scale",
            "affine",
            "rotation",
            "sequence",
            "byDimension",
        ):
            raise ValueError(f"unknown NGFF transformation type {kind!r}")
        payload = {k: v for k, v in d.items() if k not in ("type", "input", "output")}
        return NgffTransformation(
            kind, payload, _cs_of(d.get("input")), _cs_of(d.get("output"))
        )

    @staticmethod
    def from_json(data: str | bytes) -> "NgffTransformation":
        return NgffTransformation.from_dict(json.loads(data))

    def to_dict(self) -> dict:
        d: dict = {"type": self.kind, **self.payload}
        for key, cs in (("input", self.input_cs), ("output", self.output_cs)):
            if cs is not None:
                d[key] = cs if isinstance(cs, str) else cs.to_dict()
        return d

    # -- axis resolution -------------------------------------------------

    def _axes(self, cs, default: tuple[str, ...] | None) -> tuple[str, ...]:
        if isinstance(cs, NgffCoordinateSystem):
            return cs.axes_names
        if default is not None:
            return default
        raise ValueError(
            f"NGFF {self.kind!r} needs axes: give full coordinate systems in "
            "input/output or pass default axes to to_native()"
        )

    # -- conversion ------------------------------------------------------

    def to_native(
        self,
        input_axes: tuple[str, ...] | None = None,
        output_axes: tuple[str, ...] | None = None,
    ) -> BaseTransformation:
        """Convert to the native transformation algebra (reference
        transformations.py _from_ngff dispatchers)."""
        kind, p = self.kind, self.payload
        in_ax = lambda: self._axes(self.input_cs, input_axes)  # noqa: E731
        out_ax = lambda: self._axes(self.output_cs, output_axes)  # noqa: E731
        if kind == "identity":
            return Identity()
        if kind == "mapAxis":
            return MapAxis(dict(p["mapAxis"]))
        if kind == "translation":
            return Translation(p["translation"], in_ax())
        if kind == "scale":
            return Scale(p["scale"], in_ax())
        if kind == "affine":
            rows = np.asarray(p["affine"], dtype=float)
            m = np.vstack([rows, np.zeros((1, rows.shape[1]))])
            m[-1, -1] = 1.0
            return Affine(m, in_ax(), out_ax())
        if kind == "rotation":
            flat = np.asarray(p["rotation"], dtype=float)
            d = int(round(len(flat) ** 0.5))
            if d * d != len(flat):
                raise ValueError("rotation payload is not a square matrix")
            axes = in_ax()
            m = np.eye(d + 1)
            m[:d, :d] = flat.reshape(d, d)
            return Affine(m, axes, axes)
        if kind == "sequence":
            return Sequence(
                [
                    NgffTransformation.from_dict(td).to_native(input_axes, output_axes)
                    for td in p["transformations"]
                ]
            )
        if kind == "byDimension":
            return self._by_dimension_to_native(input_axes, output_axes)
        raise AssertionError(kind)

    def _by_dimension_to_native(self, input_axes, output_axes) -> BaseTransformation:
        """byDimension: sub-transformations over axis subsets whose
        outputs partition the output axes (reference
        ngff_transformations.py:1055-1120).  Built as one affine over
        the full axes: each sub-transform's matrix is placed into the
        rows of its output axes and the columns of its input axes."""
        full_in = self._axes(self.input_cs, input_axes)
        full_out = self._axes(self.output_cs, output_axes)
        m = np.zeros((len(full_out) + 1, len(full_in) + 1))
        m[-1, -1] = 1.0
        seen: set[str] = set()
        for td in self.payload["transformations"]:
            sub = NgffTransformation.from_dict(td)
            s_in = sub._axes(sub.input_cs, None)
            s_out = sub._axes(sub.output_cs, None)
            for ax in s_in:
                if ax not in full_in:
                    raise ValueError(f"byDimension input axis {ax!r} not in {full_in}")
            for ax in s_out:
                if ax not in full_out or ax in seen:
                    raise ValueError(f"byDimension output axis {ax!r} invalid or repeated")
                seen.add(ax)
            sm = sub.to_native().to_affine_matrix(s_in, s_out)
            for i, oax in enumerate(s_out):
                oi = full_out.index(oax)
                for j, iax in enumerate(s_in):
                    m[oi, full_in.index(iax)] = sm[i, j]
                m[oi, -1] = sm[i, -1]
        if seen != set(full_out):
            raise ValueError(
                f"byDimension outputs {sorted(seen)} do not partition {full_out}"
            )
        return Affine(m, full_in, full_out)

    @staticmethod
    def from_native(
        t: BaseTransformation,
        input_cs: NgffCoordinateSystem | str | None = None,
        output_cs: NgffCoordinateSystem | str | None = None,
    ) -> "NgffTransformation":
        """Native transformation -> NGFF wire object (reference
        transformations.py to_ngff dispatchers)."""
        if isinstance(t, Identity):
            kind, payload = "identity", {}
        elif isinstance(t, MapAxis):
            kind, payload = "mapAxis", {"mapAxis": dict(t.map_axis)}
        elif isinstance(t, Translation):
            kind, payload = "translation", {"translation": t.translation.tolist()}
        elif isinstance(t, Scale):
            kind, payload = "scale", {"scale": t.scale.tolist()}
        elif isinstance(t, Affine):
            kind, payload = "affine", {"affine": t.matrix[:-1, :].tolist()}
        elif isinstance(t, Sequence):
            kind = "sequence"
            payload = {
                "transformations": [
                    NgffTransformation.from_native(s).to_dict() for s in t.transformations
                ]
            }
        else:
            raise ValueError(f"no NGFF mapping for native {type(t).__name__}")
        return NgffTransformation(kind, payload, input_cs, output_cs)
