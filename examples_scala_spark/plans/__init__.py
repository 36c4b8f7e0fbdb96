from .inspect import explain_str  # noqa: F401
