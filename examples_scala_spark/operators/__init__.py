from . import (  # noqa: F401
    transforms,
    aggregations,
    joins,
    side_outputs,
    dedup,
    similarity,
    text,
    multimodal,
)
