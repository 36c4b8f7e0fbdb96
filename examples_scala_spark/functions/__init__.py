from .scalar import (  # noqa: F401
    fahrenheit_to_celsius_col,
    iso_datetime,
)
