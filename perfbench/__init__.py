"""Layer-attributed benchmark; see run.py."""
