from . import relational

__all__ = ["relational"]
