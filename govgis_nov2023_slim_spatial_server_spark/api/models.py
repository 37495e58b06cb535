"""API request/response models — behavioral parity with the reference's
pydantic layer (reference backend/models.py:30-114, 196-214), written fresh.

Validation semantics preserved: EPSG normalization to 4326 with lon/lat
range checks (reference backend/models.py:45-64), limit ∈ [1,10] default 5,
skip ≥ 0 (reference backend/models.py:23-25,89-95), errors returned in-band
(reference backend/app.py:51-53).

CRS coverage seam: 4326↔3857 reproject natively (hand-rolled web-mercator
math); any OTHER EPSG pair follows the reference's pyproj path when pyproj
is installed, and otherwise fails the request's pydantic validation with a
clean "unsupported CRS pair" ValueError (functions/spatial.reproject_point)
— e.g. a state-plane `input_point` the reference would reproject is
rejected here unless pyproj is present. This is the one reference behavior
gated on an optional dependency (PARITY.md O21).
"""

from __future__ import annotations

from typing import Optional

from pydantic import BaseModel, Field, field_validator, model_validator

from ..functions.spatial import reproject_point, validate_lonlat
from ..plans.builder import DEFAULT_LIMIT, MAX_LIMIT, MIN_LIMIT


class Point(BaseModel):
    longitude: float
    latitude: float
    epsg: int = 4326


class Point4326(Point):
    @model_validator(mode="after")
    def _normalize(self) -> "Point4326":
        if self.epsg != 4326:
            x, y = reproject_point(self.longitude, self.latitude, self.epsg, 4326)
            object.__setattr__(self, "longitude", x)
            object.__setattr__(self, "latitude", y)
            object.__setattr__(self, "epsg", 4326)
        validate_lonlat(self.longitude, self.latitude)
        return self


class SemanticSearchRequest(BaseModel):
    request_string: str
    type_filter: Optional[list[str]] = None
    input_point: Optional[Point] = None
    skip: int = Field(default=0, ge=0)
    limit: int = Field(default=DEFAULT_LIMIT, ge=MIN_LIMIT, le=MAX_LIMIT)

    @field_validator("input_point")
    @classmethod
    def _coerce_point(cls, v: Optional[Point]) -> Optional[Point4326]:
        if v is None:
            return None
        return Point4326(longitude=v.longitude, latitude=v.latitude, epsg=v.epsg)


class LayerResult(BaseModel):
    id: str
    name: Optional[str] = None
    type: Optional[str] = None
    description: Optional[str] = None
    url: Optional[str] = None
    metadata_text: Optional[str] = None


class SearchResponse(BaseModel):
    layers: Optional[list[LayerResult]] = None
    error: Optional[str] = None
