from .inspect import count_exchanges, explain_str
