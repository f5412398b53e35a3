package graft.rules

import graft.model.Event
import graft.parse.{Dissect, Grok, Mutate, SyslogPri}

/** accellion.sft — semantic port of syslog_audit_accellion.sft.conf (138
  * lines): the repeated-message drop, httpd session lines, the Download
  * audit, and the sendmail family (to=/relay variants, STARTTLS — whose
  * cipher lands in [tls][client][hash][sha256], a reference quirk — and
  * from= variants). Two mirrored accidents: the to=-block's `pri=%{pri}`
  * captures recreate a top-level `pri` that the final remove_field does
  * NOT delete (it survives, unflattened), and that same remove_field's
  * `"source"` entry — aimed at the `%{source}` scalar capture — deletes
  * the ENTIRE [source] tree, so every source.ip/port/email/bytes capture
  * in this conf is erased before output. */
object AccellionRules {

  def sft(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "accellion") // ref :9-12
    ev.set("[event][dataset]", "accellion.sft")
    if (ev.getString("message").exists(_.contains("last message repeated"))) // ref :13-15
      return Dropped
    Pending(Seq(ev), sftBody)
  }

  private def sftBody(ev: Event, ctx: ParseCtx): Unit = {
    Mutate.strip(ev, "message") // ref :16-20
    Mutate.gsub(ev, "message", "[\"]", "")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :21-25
    SyslogPri(ev) // ref :26-29
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("httpd:")) { // ref :30-52
      if (!am.contains("Web")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 1")
        Dissect(ev, "actual_msg",
          "%{[[process][name]]}: [%{[[source][port]]}]: (%{[[source][ip]]}) (User:%{[[source][user][email]]}) %{[[event][action]]}")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 2")
        Dissect(ev, "actual_msg",
          "%{[[process][name]]}: [%{[[source][port]]}]: (%{[[source][ip]]}) (User:%{[[source][user][email]]}) [%{?[[email][type]]}] %{rest_msg}}")
      }
    } else if (am.contains("Download:")) { // ref :53-62
      ev.mergeInto("[agent][parse_rule]", "RULE 3")
      Dissect(ev, "actual_msg",
        "%{[[event][action]]}: [%{[[source][port]]}]: (%{[[source][ip]]}) %{?[[email][description]]} downloaded by %{[[source][user][email]]} (%{[[source][bytes]]} %{?data}, %{?[[download][time]]}) (Type: %{?[[download][type]]}, Location: %{?location}")
    } else if (am.contains("sendmail")) { // ref :63-131
      if (am.contains(" to=")) {
        if (am.contains("ctladdr=")) {
          if (!am.contains("relay=")) {
            ev.mergeInto("[agent][parse_rule]", "RULE 4")
            Dissect(ev, "actual_msg",
              "%{[[event][action]]}[%{[[source][port]]}]: %{source}: to=%{[[destination][user][email]]}, ctladdr=%{[[server][domain]]}, delay=%{delay}, xdelay=%{xdelay}, mailer=%{?mailer}, pri=%{pri}, dsn=%{?[[dsn][id]]}, stat=%{[[event][action]]}")
          } else {
            ev.mergeInto("[agent][parse_rule]", "RULE 5")
            Dissect(ev, "actual_msg",
              "%{[[event][action]]}[%{[[source][port]]}]: %{source}: to=%{[[destination][user][email]]}, ctladdr=%{[[server][domain]]}, delay=%{delay}, xdelay=%{xdelay}, mailer=%{?mailer}, pri=%{pri}, relay=%{[[observer][hostname]]}, dsn=%{?[[dsn][id]]}, stat=%{[[event][action]]}")
          }
        } else {
          ev.mergeInto("[agent][parse_rule]", "RULE 6")
          Dissect(ev, "actual_msg",
            "%{[[event][action]]}[%{[[source][port]]}]: %{source}: to=<%{[[destination][user][email]]}>, delay=%{delay}, xdelay=%{xdelay}, mailer=%{?mailer}, pri=%{pri}, relay=%{[[observer][hostname]]} [%{[[source][ip]]}], dsn=%{?[[dsn][id]]}, stat=%{[[event][action]]} (<%{?id}> [InternalId=%{[[event][id]]}]%{[[rule][description]]})")
        }
      }
      if (am.contains("STARTTLS=client")) { // ref :98-107
        ev.mergeInto("[agent][parse_rule]", "RULE 7")
        Dissect(ev, "actual_msg",
          "%{[[event][action]]}[%{[[source][port]]}]: STARTTLS=%{?startls}, relay=%{[[observer][hostname]]}, version=%{?[[email][version]]}, verify=%{?version}, cipher=%{[[tls][client][hash][sha256]]}, bits=%{[[source][bytes]]}/%{[[destination][bytes]]}")
      }
      if (am.contains("from=")) { // ref :108-131
        if (!am.contains(" proto=")) {
          ev.mergeInto("[agent][parse_rule]", "RULE 8")
          Dissect(ev, "actual_msg",
            "%{[[event][action]]}[%{[[source][port]]}]: %{[[source][name]]}: from=%{[[source][user][email]]}, size=%{[[source][bytes]]}, class=%{class}, nrcpts=%{nrcpts}, msgid=<%{[[message][id]]}>, relay=%{[[observer][ip]]}")
        } else {
          ev.mergeInto("[agent][parse_rule]", "RULE 9")
          Dissect(ev, "actual_msg",
            "%{[[event][action]]}[%{[[source][port]]}]: %{[[source][name]]}: from=%{[[source][user][email]]}, size=%{[[source][bytes]]}, class=%{class}, nrcpts=%{nrcpts}, msgid=<%{[[message][id]]}>, proto=%{[network][protocol]}, daemon=%{daemon}, relay=%{[[observer][ip]]}")
        }
      }
    }
    Mutate.gsub(ev, "[source][user][email]", "<", "") // ref :132-136
    Mutate.gsub(ev, "[source][user][email]", ">", "")
    Seq("source", "delay", "xdelay", "nrcpts", "[log][date_time]", "actual_msg", "rest_msg")
      .foreach(ev.remove)
  }
}
