package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, Mutate}

/** aws.lb — s3_log_aws.lb.conf (ELB/ALB access log). Quirks mirrored:
  *  - the mega-grok (:19-23) is ported VERBATIM, including the missing
  *    space between the request/target processing-time groups and the
  *    `\.*?` (dots-only, lazily empty) request-time pattern — every field
  *    from the processing times onward is SHIFTED one slot left, so e.g.
  *    [http][response][bytes] ends up holding "received sent" joined.
  *  - `if [tmp][target_port_list] != "-"` (:65) is TRUE when the field is
  *    MISSING (nil != "-"), so classic v1 lines run the follow-up grok on
  *    a missing field and collect the default _grokparsefailure.
  *  - empty messages are dropped (:9-11). */
object AwsLbRules {

  def awsLb(ev: Event, ctx: ParseCtx): ParseOutcome = {
    if (ev.getString("message").forall(_.isEmpty)) return Dropped // ref :9-11
    Pending(Seq(ev), awsLbBody)
  }

  private def awsLbBody(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "aws") // ref :12-18
    ev.set("[event][dataset]", "aws.lb")
    ev.set("[cloud][provider]", "aws")
    Grok(ev, "message", Seq( // ref :19-23
      "^((?<[tmp][type]>.*?) )?(?<[tmp][ingested]>.*?) (?<[tmp][instance_id]>.*?) " +
      "(?<[tmp][client_ip]>.*?):(?<[tmp][client_port]>\\d+) " +
      "(-|((?<[tmp][dst_ip]>.*?):(?<[tmp][dst_port]>\\d+))) " +
      "(-|(?<[tmp][request_processing_time]>\\.*?))(-|(?<[tmp][target_processing_time]>.*?)) " +
      "(-|(?<[tmp][response_processing_time]>.*?)) (-|(?<[tmp][elb_status_code]>.*?)) " +
      "(-|(?<[tmp][target_status_code]>.*?)) (-|(?<[tmp][received_bytes]>.*?)) " +
      "(-|(?<[tmp][sent_bytes]>.*?)) \"(-|(?<[tmp][method]>.*?)) (?<[tmp][url_full]>.*?) " +
      "(?<[tmp][next_protocol]>.*?)\" \"(-|(?<[tmp][user_agent]>.*?))\" " +
      "(-|(?<[tmp][ssl_cipher]>.*?)) (-|(?<[tmp][ssl_protocol]>.*?))" +
      "( (-|(?<[tmp][target_group_arn]>.*?)) \"(-|(?<[tmp][trace_id]>.*?))\" " +
      "\"(-|(?<[tmp][domain_name]>.*?))\" \"(-|(?<[tmp][chosen_cert_arn]>.*?))\" " +
      "(-|(?<[tmp][matched_rule_priority]>.*?)) (-|(?<[tmp][request_creation_time]>.*?)) " +
      "\"(-|(?<[tmp][actions_executed]>.*?))\" \"(-|(?<[tmp][redirect_url]>.*?))\" " +
      "\"(-|(?<[tmp][error_reason]>.*?))\" \"(-|(?<[tmp][target_port_list]>.*?))\" " +
      "\"(-|(?<[tmp][target_status_code_list]>.*?))\" \"(-|(?<[tmp][classification]>.*?))\" " +
      "\"(-|(?<[tmp][classification_reason]>.*?))\")?$"))
    Mutate.addField(ev, "[log][source][hostname]", "%{[tmp][instance_id]}") // ref :24-28
    ev.rename("[tmp][request_creation_time]", "[event][created]") // ref :34-63
    ev.rename("[tmp][ingested]", "[event][ingested]")
    ev.rename("[tmp][request_processing_time]", "[event][duration]")
    ev.rename("[tmp][matched_rule_priority]", "[event][severity]")
    ev.rename("[tmp][classification]", "[event][category]")
    ev.rename("[tmp][error_reason]", "[event][reason]")
    ev.rename("[tmp][instance_id]", "[cloud][instance][name]")
    ev.rename("[tmp][type]", "[url][scheme]")
    ev.rename("[tmp][url_full]", "[url][full]")
    ev.rename("[tmp][domain_name]", "[url][domain]")
    ev.rename("[tmp][elb_status_code]", "[http][response][status_code]")
    ev.rename("[tmp][received_bytes]", "[http][request][bytes]")
    ev.rename("[tmp][sent_bytes]", "[http][response][bytes]")
    ev.rename("[tmp][method]", "[http][request][method]")
    ev.rename("[tmp][redirect_url]", "[http][request][referrer]")
    ev.rename("[tmp][user_agent]", "[user_agent][name]")
    ev.rename("[tmp][ssl_cipher]", "[tls][cipher]")
    ev.rename("[tmp][ssl_protocol]", "[tls][version_protocol]")
    ev.rename("[tmp][chosen_cert_arn]", "[tls][client][server_name]")
    ev.rename("[tmp][trace_id]", "[trace][id]")
    ev.rename("[tmp][actions_executed]", "[rule][name]")
    ev.rename("[tmp][classification_reason]", "[rule][description]")
    ev.rename("[tmp][client_port]", "[source][port]")
    ev.rename("[tmp][client_ip]", "[source][ip]")
    ev.rename("[tmp][dst_ip]", "[destination][ip]")
    ev.rename("[tmp][dst_port]", "[destination][port]")
    ev.rename("[tmp][next_protocol]", "[tls][next_protocol]")
    if (!ev.getString("[tmp][target_port_list]").contains("-")) { // ref :65-72 — nil != "-" is TRUE
      Mutate.splitField(ev, "[tmp][target_port_list]", " ")
      Grok(ev, "[tmp][target_port_list]",
        Seq("(?<[destination][ip]>.*?):(?<[destination][port]>.*?)$"))
    }
    if (!ev.getString("[tmp][target_status_code]").contains("-")) // ref :73-77
      Mutate.splitField(ev, "[tmp][target_status_code]", " ")
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"), // ref :79-84
      "[event][created_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (Dates(ev, "[event][ingested]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"), // ref :85-90
      "[event][ingested_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ei"))) ev.remove("[event][ingested]")
    ev.remove("tmp") // ref :91-93
  }
}
