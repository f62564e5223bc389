"""Structured Streaming layer (SURVEY.md §2.9 T1-T9, J1 streaming form,
M2/T6 stateful online forecast)."""
